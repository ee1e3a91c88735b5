import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for unit tests


@pytest.fixture(scope="session")
def spark():
    from lab3_spark.session import get_spark

    s = get_spark("lab3_spark_tests", shuffle_partitions=4)
    yield s


@pytest.fixture(autouse=True)
def cache_scope_per_test():
    """Run every test inside its own ``cache_scope()``: frames the
    engine caches during the test are released when it ends."""
    from lab3_spark.functions.partitioning import cache_scope

    with cache_scope():
        yield


@pytest.fixture
def settled_persistent_rdds(spark):
    """Callable: the persistent-RDD count after letting the cleanup
    machinery run.

    Two populations live in getPersistentRDDs():

    - CacheManager entries (``.persist()`` on DataFrames) — STRONGLY
      held for the session; a leak here never shrinks.  This is the
      class the storage-bound tests exist to catch.
    - localCheckpoint RDDs from iterative operators, and frames
      released with a non-blocking ``unpersist`` — freed in the
      background (ContextCleaner once Python + JVM GC drop them, or
      the async block release).  Bounded by design, but on a busy
      executor the cleanup lags, so a raw snapshot is nondeterministic.

    Polls with explicit GC until the count stops shrinking: GC-collect
    both sides, wait, re-count; converges in 1-2 rounds when nothing
    leaks, while a genuine CacheManager leak (GC-immune) keeps the
    count high and still fails the assertion."""
    import gc
    import time

    sc = spark.sparkContext

    def count() -> int:
        best = sc._jsc.sc().getPersistentRDDs().size()
        stable = 0
        deadline = time.time() + 45
        while time.time() < deadline:
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(1.5)
            n = sc._jsc.sc().getPersistentRDDs().size()
            if n >= best:
                stable += 1
                if stable >= 2:  # two consecutive non-shrinking polls
                    return best
            else:
                stable = 0
                best = n
        return best

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def corpus(spark):
    """Tiny hand-built corpus exercising the parity quirks (FIXTURES.md
    §1.1): tabs, mixed case, digits, apostrophes, repeated words on one
    line, stop-word-substring collisions, frequency ties."""
    rows = [
        (0, "The quick brown fox\tjumps over the lazy dog"),
        (1, "Don't stop believin' — hold on to that feelin'"),
        (2, "fox fox dog 123 42nd"),
        (3, ""),
        (4, "Quick QUICK quick"),
        (5, "abo ve is not above but abo is a substring test"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")
