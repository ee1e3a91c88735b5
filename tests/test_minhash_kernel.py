"""MinHash kernel (operators/dedup.py): signatures and LSH candidates
must equal a pure-Python MinHash, and the signature plan must stay one
per-row projection."""

import hashlib
import random
import re
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from lab3_spark.operators.dedup import (
    N_BANDS,
    N_HASHES,
    ROWS_PER_BAND,
    SHINGLE_N,
    minhash_band_keys,
    minhash_candidates,
    minhash_signatures,
)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def py_signature(text: str):
    """min(md5(f"{salt}|{shingle}")) over the distinct word trigrams;
    None for a text with fewer than SHINGLE_N tokens."""
    toks = re.findall(r"[a-z][a-z']*", text.lower())
    grams = {
        " ".join(toks[i : i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)
    }
    if not grams:
        return None
    return [min(_md5(f"{s}|{g}") for g in grams) for s in range(N_HASHES)]


def py_candidates(sigs: dict, max_bucket=None) -> list:
    """Pure-Python banding: (doc_a, doc_b, n_bands), doc_a < doc_b."""
    buckets = defaultdict(list)
    for doc, sig in sigs.items():
        for b in range(N_BANDS):
            band = sig[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND]
            buckets[(b, _md5(",".join(band)))].append(doc)
    shared = Counter()
    for ids in buckets.values():
        if max_bucket is None or len(ids) <= max_bucket:
            shared.update(combinations(sorted(ids), 2))
    return sorted((a, b, n) for (a, b), n in shared.items())


def _texts():
    rng = random.Random(7)
    vocab = [f"w{i}x" for i in range(60)] + ["don't", "it's", "o'neil"]
    long_doc = " ".join(rng.choice(vocab) for _ in range(450))
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill every single morning"
    )
    return {
        0: base,
        1: base,  # exact copy
        2: base.replace("warm", "cold"),  # near copy
        3: base.upper(),  # same tokens after lowercasing
        4: "Don't STOP believin' -- Hold ON to that feelin', O'Neil said",
        5: "a b c a b c a b c a b c",  # repeated trigrams
        6: "two words",  # < SHINGLE_N tokens: excluded
        7: "",  # no tokens: excluded
        8: "123 ... !!! only two",  # digits/punctuation are not tokens
        9: long_doc,  # > 400 tokens
        10: long_doc.replace("w7x", "w8x", 3),
        11: "a b c a b c a b c a b c d",
    }


@pytest.fixture(scope="module")
def kernel_docs(spark):
    rows = sorted(_texts().items())
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_signatures_equal_python_minhash(spark, kernel_docs):
    got = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(kernel_docs).collect()}
    want = {d: py_signature(t) for d, t in _texts().items()}
    want = {d: s for d, s in want.items() if s is not None}
    assert set(got) == set(want) == set(_texts()) - {6, 7, 8}
    assert got == want


def test_signatures_at_paragraph_grain(spark):
    texts = _texts()
    rows = [(d // 3, d % 3, t) for d, t in sorted(texts.items())]
    paras = spark.createDataFrame(rows, "doc_id long, para_idx long, para_text string")
    got = {
        (r["doc_id"], r["para_idx"]): list(r["sig"])
        for r in minhash_signatures(
            paras, "para_text", key_cols=("doc_id", "para_idx")
        ).collect()
    }
    want = {
        (d, p): py_signature(t) for d, p, t in rows if py_signature(t) is not None
    }
    assert got == want
    keys = minhash_band_keys(paras, "para_text", key_cols=("doc_id", "para_idx"))
    assert keys.columns == ["doc_id", "para_idx", "band", "band_key"]
    assert keys.count() == N_BANDS * len(want)


@pytest.mark.parametrize("max_bucket", [None, 2, 3])
def test_candidates_equal_python_banding(spark, kernel_docs, max_bucket):
    sigs = {d: s for d, t in _texts().items() if (s := py_signature(t)) is not None}
    want = py_candidates(sigs, max_bucket)
    got = [
        tuple(r)
        for r in minhash_candidates(kernel_docs, max_bucket=max_bucket).collect()
    ]
    assert got == want  # ordered by (doc_a, doc_b)
    # the corpus exercises the cap: it has buckets of 3 and of 4 docs
    variants = {tuple(py_candidates(sigs, cap)) for cap in (None, 2, 3)}
    assert len(variants) == 3


def _lambda_depths(text: str, needle: str) -> list[int]:
    """For each occurrence of ``needle`` in an expression string, how
    many enclosing parentheses were opened by ``lambdafunction(``."""
    depths, stack, i = [], [], 0
    while i < len(text):
        if text.startswith(needle, i):
            depths.append(sum(stack))
        if text.startswith("lambdafunction(", i):
            stack.append(1)
            i += len("lambdafunction(")
            continue
        if text[i] == "(":
            stack.append(0)
        elif text[i] == ")" and stack:
            stack.pop()
        i += 1
    return depths


def test_signature_plan_is_one_projection(spark, kernel_docs):
    """No Aggregate and no Generate in the signature plan, and the
    tokenizer runs outside every lambda (a regex inside the per-gram
    lambda re-tokenizes the unit once per gram position)."""
    plan = minhash_signatures(kernel_docs)._jdf.queryExecution().optimizedPlan()
    names, exprs = [], []
    stack = [plan]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        exprs.append(node.verboseString(100_000))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    assert not [n for n in names if "Aggregate" in n or "Generate" in n], names
    text = "\n".join(exprs)
    depths = _lambda_depths(text, "regexp_extract_all")
    assert depths and all(d == 0 for d in depths), text
    assert _lambda_depths(text, "md5") and all(
        d > 0 for d in _lambda_depths(text, "md5")
    )
