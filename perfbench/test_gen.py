"""Tests of the benchmark's own generators (not of the engine).

    python3 -m pytest perfbench -q -p no:cacheprovider

Same seed -> identical bytes; ground truth -> equal to an independent
recount of the written files with the pure-Python tokenizer spec.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from lab3_spark.stopwords import STOP_WORDS  # noqa: E402

SMALL_CORPUS = 60_000


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(workload, seed, dst):
    if workload == "corpus_pipelines":
        return gen.gen_corpus(seed, dst, n_tokens=SMALL_CORPUS)
    return gen.generate(workload, seed, dst)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes(tmp_path, workload):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        d.mkdir()
        _generate(workload, seed, str(d))
    assert _digest(str(a)) == _digest(str(b))
    assert _digest(str(a)) != _digest(str(c))


def test_corpus_truth_matches_recount(tmp_path):
    meta = gen.gen_corpus(3, str(tmp_path), n_tokens=SMALL_CORPUS)
    with open(tmp_path / "corpus.txt", newline="") as f:
        text = f.read()
    lines = text.split("\n")[:-1]  # the file ends with a newline
    assert len(lines) == meta["lines"]
    assert "\t" in text and "\n\n" in text and any(c.isupper() for c in text[:2000])
    counts: collections.Counter[str] = collections.Counter()
    postings: dict[str, set[int]] = collections.defaultdict(set)
    stop = set(STOP_WORDS)
    for no, line in enumerate(lines):
        for w in gen.token_regex_words(line):
            counts[w] += 1
            if w not in stop:
                postings[w].add(no)
    assert sum(counts.values()) == meta["tokens"]
    kept = {w: c for w, c in counts.items() if w not in stop}

    def read(name):
        with open(tmp_path / f"truth_{name}.txt") as f:
            return f.read().split("\n")[:-1]

    wc = read("wordcount")
    assert len(wc) == len(kept)
    assert {(l[:15].strip(), int(l[18:])) for l in wc} == set(kept.items())
    cnts = [int(l[18:]) for l in wc]
    assert cnts == sorted(cnts)
    top = read("topk")
    by_word_desc = sorted(kept.items(), reverse=True)
    expect = sorted(by_word_desc, key=lambda wc: -wc[1])[:50]
    assert [(l[:15].strip(), int(l[18:])) for l in top] == expect
    inv = read("invert")
    assert [l.split(" - ", 1)[0] for l in inv] == sorted(postings)
    for l in inv:
        w, ids = l.split(" - ", 1)
        assert [int(x) for x in ids.split(", ")] == sorted(postings[w])


def test_near_dup_truth_matches_recount(tmp_path):
    meta = gen.gen_near_dups(5, str(tmp_path))
    docs = pq.read_table(tmp_path / "docs.parquet").to_pydict()
    with open(tmp_path / "docs_truth.json") as f:
        truth = json.load(f)
    assert docs["doc_id"] == list(range(meta["docs"]))
    norms = [gen.normalized(gen.token_regex_words(t)) for t in docs["text"]]
    assert truth["fp"] == [gen.md5_hex(s) for s in norms]
    assert sum(len(s.split(" ")) for s in norms) == truth["tokens"]
    lens = [len(s.split(" ")) for s in norms]
    assert min(lens) >= 80 and max(lens) <= 400
    for a, b in truth["exact_pairs"]:
        assert norms[a] == norms[b]
    for a, b in truth["near_pairs"]:
        ta, tb = norms[a].split(" "), norms[b].split(" ")
        changed = sum(x != y for x, y in zip(ta, tb))
        assert len(ta) == len(tb) and 1 <= changed <= max(1, round(0.02 * len(ta)))


def test_ingest_truth_matches_recount(tmp_path):
    meta = gen.gen_ingest(9, str(tmp_path))
    with open(tmp_path / "ingest_truth.json") as f:
        fps = json.load(f)["fp"]
    seen = []
    files = sorted(os.listdir(tmp_path / "batches"))
    assert len(files) == meta["batches"]
    for name in files:
        t = pq.read_table(tmp_path / "batches" / name).to_pydict()
        assert t["doc_id"] == list(range(len(seen), len(seen) + len(t["doc_id"])))
        seen += [gen.md5_hex(gen.normalized(gen.token_regex_words(x))) for x in t["text"]]
    assert seen == fps
    assert len(set(fps)) == meta["distinct"] < meta["docs"]
    survivors = {d for d, (_, _, dup) in gen.exact_truth(fps).items() if not dup}
    assert len(survivors) == meta["distinct"]
