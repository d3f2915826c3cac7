"""The storage branch of `functions/cache.materialize` for the six
operators that share a corpus-scale intermediate.

Below `plans.scale_gate`'s floor the shared intermediate is persisted,
which pins it in the executor heap — measured at 5M docs, that
required a 64 GB driver heap in local mode (SCALE.md §11). At or above
the floor it is written to Parquet and every consumer scans storage,
making the pipeline heap-independent. These tests force the storage
branch by dropping the floor to 0 and pin the contract: identical rows
in both branches, and the intermediates really live on disk.
"""

from __future__ import annotations

import os

import pytest

from tera_spark import plans
from tera_spark.functions.cache import CacheScope, app_scratch_dir
from tera_spark.operators.dedup import verified_near_duplicates


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _rows(df):
    return sorted(
        (r.id_a, r.id_b, r.jaccard) for r in df.collect()
    )


def _storage_branch(monkeypatch):
    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 0)


def _scratch_entries(spark) -> set[str]:
    return set(os.listdir(app_scratch_dir(spark, "materialize")))


def test_storage_mode_matches_cached_mode(spark, monkeypatch):
    docs = _docs(spark)
    cached = _rows(verified_near_duplicates(docs, threshold=0.5))
    _storage_branch(monkeypatch)
    stored = _rows(verified_near_duplicates(docs, threshold=0.5))
    assert stored == cached
    assert stored, "fixture corpus has planted near-duplicates"


def test_storage_mode_materializes_to_parquet(spark, monkeypatch):
    _storage_branch(monkeypatch)
    root = app_scratch_dir(spark, "materialize")
    before = _scratch_entries(spark)
    with CacheScope(spark) as scope:
        out = verified_near_duplicates(docs=_docs(spark), threshold=0.5, scope=scope)
        assert "InMemoryRelation" not in plans.plan_str(out)
        # both shared intermediates are real Parquet tables on disk,
        # each in its own fresh directory
        new = _scratch_entries(spark) - before
        tables = [spark.read.parquet(os.path.join(root, d)) for d in new]
        assert len(tables) == 2
        fp = next(t for t in tables if "sig" in t.columns)
        assert {"id", "sh", "sig"} <= set(fp.columns)
        assert fp.count() == _docs(spark).count()
        band = next(t for t in tables if "bucket" in t.columns)
        assert {"id", "bucket", "prefix"} <= set(band.columns)


def test_storage_mode_respects_bucket_cap(spark, monkeypatch):
    docs = _docs(spark)
    capped_cache = _rows(
        verified_near_duplicates(docs, threshold=0.5, max_bucket_size=4)
    )
    _storage_branch(monkeypatch)
    capped_store = _rows(
        verified_near_duplicates(docs, threshold=0.5, max_bucket_size=4)
    )
    assert capped_store == capped_cache


def test_storage_results_built_before_running_stay_separate(spark, monkeypatch):
    """Two storage-branch results built before either runs must each
    read their own intermediates: a shared scratch path would let the
    second build overwrite the first's files."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    half = docs.filter(F.col("doc_id") % 2 == 0)
    want_all = _rows(verified_near_duplicates(docs, threshold=0.5))
    want_half = _rows(verified_near_duplicates(half, threshold=0.5))
    assert want_all != want_half

    _storage_branch(monkeypatch)
    got_all = verified_near_duplicates(docs, threshold=0.5)
    got_half = verified_near_duplicates(half, threshold=0.5)
    assert _rows(got_all) == want_all
    assert _rows(got_half) == want_half


@pytest.mark.slow
def test_minhash_pairs_storage_mode_matches(spark, monkeypatch):
    from tera_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark)
    cached = sorted((r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect())
    _storage_branch(monkeypatch)
    stored = sorted((r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect())
    assert stored == cached and stored


def test_containment_pairs_storage_mode_matches(spark, monkeypatch):
    from tera_spark.operators.dedup import containment_pairs

    docs = _docs(spark)
    key = lambda r: (r.id_a, r.id_b, r.containment, r.direction)
    cached = sorted(map(key, containment_pairs(docs, threshold=0.5).collect()))
    _storage_branch(monkeypatch)
    stored = sorted(map(key, containment_pairs(docs, threshold=0.5).collect()))
    assert stored == cached and stored


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.mark.slow
def test_semantic_pairs_storage_mode_matches(spark, monkeypatch):
    """The three embedding-side bucket/cluster operators share the same
    storage contract as the text dedup family: intermediates to
    Parquet, identical rows."""
    from tera_spark.operators.similarity import (
        hyperplane_lsh_pairs,
        ivf_near_pairs,
        train_kmeans,
        windowed_semantic_pairs,
    )

    emb = _emb(spark)
    cents = train_kmeans(emb, k=4, iters=1)
    key = lambda r: (r.id_a, r.id_b, r.sim)
    ops = (
        (ivf_near_pairs, {"centroids": cents, "threshold": 0.3}),
        (windowed_semantic_pairs, {"centroids": cents, "threshold": 0.3}),
        (hyperplane_lsh_pairs, {"threshold": 0.3}),
    )
    cached = {op: sorted(map(key, op(emb, **kw).collect())) for op, kw in ops}
    _storage_branch(monkeypatch)
    for op, kw in ops:
        stored = sorted(map(key, op(emb, **kw).collect()))
        assert stored == cached[op], op.__name__
        assert stored, op.__name__
