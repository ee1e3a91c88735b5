"""Train-once codebook store (VERDICT r10 item 3): env-gated disk
persistence of trained PQ/IVF-PQ codebooks under .materialized."""

import json
import os

import pytest

from lab3_spark.operators.kmeans import (
    _codebook_store_path,
    trained_centroids,
)


@pytest.fixture()
def emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


@pytest.fixture()
def store_env(tmp_path, monkeypatch):
    """Enable the store, pointed at a throwaway root so tests never
    touch the real .materialized artifacts."""
    import lab3_spark.sources.layout as layout

    monkeypatch.setenv("SPARK_GRAFT_CODEBOOK_STORE", "1")
    monkeypatch.setattr(layout, "MATERIALIZED_ROOT", str(tmp_path))
    return str(tmp_path)


def test_store_disabled_by_default(emb, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CODEBOOK_STORE", raising=False)
    assert _codebook_store_path(emb, 4, 1, False, "x") is None


def test_store_roundtrip_identical(emb, store_env):
    trained = trained_centroids(emb, k=4, n_iter=1, store_key="t.s0")
    path = _codebook_store_path(emb, 4, 1, False, "t.s0")
    assert path is not None and os.path.exists(path)
    loaded = trained_centroids(emb, k=4, n_iter=1, store_key="t.s0")
    assert loaded == trained


def test_store_keys_distinguish_derivations(emb, store_env):
    p0 = _codebook_store_path(emb, 4, 1, False, "fam.s0")
    p1 = _codebook_store_path(emb, 4, 1, False, "fam.s1")
    p2 = _codebook_store_path(emb, 8, 1, False, "fam.s0")
    assert len({p0, p1, p2}) == 3


def test_corrupt_artifact_retrains_and_overwrites(emb, store_env):
    expected = trained_centroids(emb, k=4, n_iter=1, store_key="t.c")
    path = _codebook_store_path(emb, 4, 1, False, "t.c")
    with open(path, "w") as fh:
        fh.write("{not json")
    got = trained_centroids(emb, k=4, n_iter=1, store_key="t.c")
    assert got == expected
    # the retrain must have repaired the artifact
    assert json.load(open(path))


def test_no_store_key_never_touches_disk(emb, store_env):
    trained_centroids(emb, k=4, n_iter=1)
    assert not os.path.isdir(os.path.join(store_env, "codebooks")) or not os.listdir(
        os.path.join(store_env, "codebooks")
    )


def test_ivfpq_residual_identical_with_and_without_store(
    emb, store_env, monkeypatch
):
    """The gate-level contract: the residual IVF-PQ result is
    bit-identical whether codebooks are trained or loaded."""
    from lab3_spark.operators.kmeans import ann_ivf_pq_residual

    def run():
        return [
            tuple(r)
            for r in ann_ivf_pq_residual(
                emb, n_queries=5, topk=3, coarse_iter=1, pq_iter=1
            ).collect()
        ]

    monkeypatch.delenv("SPARK_GRAFT_CODEBOOK_STORE", raising=False)
    cold = run()
    monkeypatch.setenv("SPARK_GRAFT_CODEBOOK_STORE", "1")
    trained = run()  # trains + writes artifacts
    loaded = run()  # serves from the store
    assert cold == trained == loaded


def test_unwritable_store_is_best_effort(emb, store_env, monkeypatch):
    """A read-only .materialized must never fail the training path:
    the store write is best-effort — training still returns."""
    import os

    os.makedirs(os.path.join(store_env, "codebooks"), exist_ok=True)
    os.chmod(os.path.join(store_env, "codebooks"), 0o555)
    try:
        cents = trained_centroids(emb, k=4, n_iter=1, store_key="t.ro")
        assert cents  # trained fine despite the failed write
    finally:
        os.chmod(os.path.join(store_env, "codebooks"), 0o755)
