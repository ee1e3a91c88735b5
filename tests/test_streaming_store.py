"""The versioned foreachBatch stores (streaming/store.py) refuse to
build on lost state, and their readers fail cleanly on a missing store.

Each store reads version N-1 of some tables in batch N.  Wiping any one
of those tables under a kept checkpoint must fail the stream with the
documented "refusing" error, never a raw PATH_NOT_FOUND from the read.
Cases the older per-store tests already pin are not repeated here:
cdc's single table (test_round7_batch1, test_round8_batch1), the full
wipes, paragraph_lsh's cands/ and spans' spans/ (test_round10_batch1),
and the missing-store errors of latest_ranks, both latest_cands and
latest_spans (test_round9_batch1, test_round9_batch2,
test_round10_batch1).
"""

import datetime
import importlib
import shutil

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

from tests import test_round8_batch1 as r8a
from tests import test_round8_batch2 as r8b
from tests import test_round9_batch2 as r9b
from tests import test_round10_batch1 as r10a

_EVENTS = "user_id bigint, ts timestamp, event_id bigint, event_type string"


def _event_feed(spark, tmp_path, batches):
    import os
    import time

    feed = str(tmp_path / "efeed")
    os.makedirs(feed, exist_ok=True)
    existing = len(os.listdir(feed))
    for i, rows in enumerate(batches, start=existing):
        part = str(tmp_path / f"epart{i}")
        spark.createDataFrame(rows, _EVENTS).coalesce(1).write.parquet(part)
        (pf,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = os.path.join(feed, f"{i:02d}.parquet")
        os.rename(os.path.join(part, pf), dst)
        os.utime(dst, (time.time() + i * 10,) * 2)
    return feed


def _drain_attribution(spark, feed, store, ck):
    from lab3_spark.streaming.attribution import start_streaming_attribution

    src = (
        spark.readStream.schema(_EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = start_streaming_attribution(src, store, ck)
    if not q.awaitTermination(300):  # pragma: no cover
        q.stop()
        raise AssertionError("attribution stream timed out")


def _t(minute):
    return datetime.datetime(2024, 1, 1, 0, minute)


_LSH_TEXT = (
    "the quick brown fox jumps over the lazy dog while the cat"
    " watches from the warm windowsill every single morning"
)

# store -> (feed, drain, first batch, second batch)
_STORES = {
    "pagerank": (
        r8a._edge_feed,
        r8a._drain_pagerank,
        [(1, 2), (2, 1)],
        [(2, 3), (3, 2)],
    ),
    "lsh_index": (
        r8b._doc_feed,
        r8b._drain_lsh,
        [(0, _LSH_TEXT), (1, _LSH_TEXT)],
        [(2, _LSH_TEXT.replace("warm", "cold"))],
    ),
    "paragraph_lsh": (
        r10a._para_feed,
        r10a._drain_para_lsh,
        [(1, r10a.BOILER), (2, r10a.BOILER)],
        [(3, r10a.BOILER)],
    ),
    "spans": (
        r9b._doc_feed,
        r9b._drain_spans,
        [(1, r9b.BLOCK), (2, r9b.BLOCK)],
        [(3, r9b.BLOCK)],
    ),
    "attribution": (
        _event_feed,
        _drain_attribution,
        [(1, _t(0), 1, "view"), (1, _t(1), 2, "click"), (2, _t(1), 3, "view")],
        [(1, _t(2), 4, "purchase"), (2, _t(3), 5, "click")],
    ),
}


@pytest.mark.parametrize(
    "name,table",
    [
        ("pagerank", "edges"),
        ("lsh_index", "bands"),
        ("lsh_index", "cands"),
        ("paragraph_lsh", "bands"),
        ("spans", "docgrams"),
        ("spans", "gramcounts"),
        ("attribution", "state"),
        ("attribution", "counts"),
    ],
)
def test_wiping_one_prior_table_refuses(spark, tmp_path, name, table):
    feed_fn, drain, first, second = _STORES[name]
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    feed = feed_fn(spark, tmp_path, [first])
    drain(spark, feed, store, ck)
    shutil.rmtree(f"{store}/{table}")
    feed_fn(spark, tmp_path, [second])
    with pytest.raises(StreamingQueryException, match="refusing"):
        drain(spark, feed, store, ck)


@pytest.mark.parametrize(
    "module,reader,message",
    [
        ("cdc", "latest_snapshot", "no snapshot versions"),
        ("attribution", "merged_attribution", "no count versions"),
        ("incremental_dedup", "accepted_store", "no batches"),
    ],
)
def test_reader_on_missing_store_raises_file_not_found(
    spark, tmp_path, module, reader, message
):
    mod = importlib.import_module(f"lab3_spark.streaming.{module}")
    with pytest.raises(FileNotFoundError, match=message):
        getattr(mod, reader)(spark, str(tmp_path / "never_written"))
