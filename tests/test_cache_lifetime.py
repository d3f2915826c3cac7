"""CacheScope: the intermediates `functions/cache.materialize` makes
for an operator — persists below the scale gate, Parquet directories
at or above it — register with an explicit scope so callers can
release them deterministically after consuming the results; without a
scope, persists stay until session LRU eviction and directories until
process exit (the long-standing default).

History: a GC-finalizer design (unpersist when the returned DataFrame
is garbage-collected) was tried and REVERTED in round 5 — query
wrappers re-project results, the tied wrapper dies at build time, and
the cache dropped BEFORE/DURING execution, forcing the compiled
InMemoryTableScan to recompute its subtree per consuming partition
(measured 0.6 s → 98 s on dedup_lsh_verified at sf0.1). The regression
test below pins the fix: building and THEN running an operator's plan
must hit its cache."""

from __future__ import annotations

import gc

from pyspark import StorageLevel
from pyspark.sql import functions as F


def _live_cached(spark) -> int:
    return len([r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()])


def test_scope_releases_on_exit(spark):
    from tera_spark.functions.cache import CacheScope
    from tera_spark.operators.dedup import verified_near_duplicates

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i % 3)) for i in range(30)],
        "doc_id long, text string",
    )
    # delta-based: other modules in the shared session may hold their
    # own (scope-less, LRU-managed) persists — this test owns only the
    # caches the scope registers
    before = _live_cached(spark)
    with CacheScope(spark) as scope:
        out = verified_near_duplicates(docs, threshold=0.5, scope=scope)
        assert out.count() > 0
        assert _live_cached(spark) >= before + 1  # caches live while consuming
    assert _live_cached(spark) == before  # scope exit released them


def test_scope_release_idempotent(spark):
    from tera_spark.functions.cache import CacheScope, materialize

    scope = CacheScope(spark)
    dep = materialize(spark.range(10), scope)  # below the gate: persist
    assert dep.storageLevel != StorageLevel.NONE
    scope.release()
    assert dep.storageLevel == StorageLevel.NONE
    scope.release()  # idempotent


def test_released_scope_removes_its_storage_dirs(spark, monkeypatch):
    """Storage-branch intermediates live in fresh directories under the
    app scratch; releasing the scope that registered them deletes them
    (the at-exit reaper is only the scope-less fallback)."""
    import os

    from tera_spark import plans
    from tera_spark.functions.cache import CacheScope, app_scratch_dir, materialize

    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 0)
    root = app_scratch_dir(spark, "materialize")
    before = set(os.listdir(root))
    with CacheScope(spark) as scope:
        a = materialize(spark.range(10), scope)
        b = materialize(spark.range(5), scope)
        new = set(os.listdir(root)) - before
        assert len(new) == 2  # one directory per call, never a shared tag
        assert (a.count(), b.count()) == (10, 5)
        assert "InMemoryRelation" not in plans.plan_str(a)
    assert not new & set(os.listdir(root))


def test_no_scope_keeps_cache_through_execution(spark):
    """REGRESSION (round 5): the cache must still be live when the
    returned plan executes, even when the result is re-projected and
    the intermediate Python wrappers have been garbage-collected —
    exactly the query-registry shape that broke under the GC-finalizer
    design."""
    from tera_spark.operators.dedup import verified_near_duplicates

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i % 3)) for i in range(30)],
        "doc_id long, text string",
    )

    def build():
        # wrap + drop locals, like every queries() entry does
        return verified_near_duplicates(docs, threshold=0.5).select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        )

    out = build()
    gc.collect()  # the operator's locals are gone; the cache marker must not be
    assert out.count() > 0
    gc.collect()
    # blocks materialized during the run and are STILL cached after it —
    # under the GC-finalizer design they were dropped at build time and
    # this read 0 (with the run itself recomputing per partition)
    assert _live_cached(spark) >= 1, "operator persist released before execution"
    # cleanup for later tests
    spark.catalog.clearCache()
