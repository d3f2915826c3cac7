"""One materialization policy for operators' shared intermediates.

Several operators derive an intermediate that more than one branch of
the returned plan reads (e.g. a fingerprint table feeding both sides
of a self-join). ``materialize(df, scope)`` is the only place that
decides where it lives, and it asks `plans.scale_gate(df)`:

* below the gate's floor the intermediate is persisted
  (MEMORY_AND_DISK). Cheapest at fixture volumes, but the cached
  partitions live in the executor heap — in local mode, the DRIVER
  heap — until evicted.
* at or above the floor it is WRITTEN to Parquet in a fresh directory
  and read back (the storage branch). Every consumer then scans
  storage with column pruning instead of a heap-pinned
  InMemoryRelation; the write itself is the materialization barrier,
  so the upstream pipeline still runs exactly once. A 5M-doc MinHash
  fingerprint table needed a 64 GB driver heap cached; written to
  Parquet it runs at 16 GB (SCALE.md §11). Reference analog: tera
  never pins a table in client memory — its scans stream
  (src/sdk/scan_impl.h).

Either way the rows are the same; only the medium differs. A failing
size estimate picks the storage branch (the gate's fail-safe side).

Lifetime. Operators cannot release an intermediate before returning —
the caller has not run the plan yet. A GC-finalizer design (release
when the returned DataFrame is collected by the garbage collector) was
tried in round 5 and REVERTED: Python wrapper lifetime is the wrong
signal. Query wrappers routinely re-project the returned DataFrame
(`op(...).select(...)`), the tied wrapper dies at function exit, and
the cache is dropped BEFORE or DURING execution — the compiled plan
keeps its InMemoryTableScan and recomputes the child subtree per
consuming partition (measured 0.6 s → 98 s on dedup_lsh_verified at
sf0.1).

The sound contract is explicit: operators accept ``scope=`` and
register their intermediates there; a caller that wants deterministic
release wraps the RUN (not the build) in the scope:

    with CacheScope(spark) as scope:
        pairs = verified_near_duplicates(docs, scope=scope)
        pairs.count()          # run while intermediates are live
    # scope exit: persists unpersisted, Parquet directories removed

Without a scope, persists stay until session LRU eviction and Parquet
directories until the process exits (`app_scratch_dir`'s reaper).
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame

from tera_spark.plans import scale_gate


class CacheScope:
    """Collects the intermediates of operator calls — persisted
    DataFrames and storage-branch directories — so the caller can
    release them after consuming the results. Release is idempotent."""

    def __init__(self, spark=None):
        self._dfs: list[DataFrame] = []
        self._dirs: list[str] = []

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._dfs.append(df)
        return df

    def add_dir(self, path: str) -> None:
        self._dirs.append(path)

    def release(self) -> None:
        while self._dfs:
            try:
                self._dfs.pop().unpersist()
            except Exception:
                pass  # session already stopped / JVM gone
        while self._dirs:
            shutil.rmtree(self._dirs.pop(), ignore_errors=True)

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def materialize(df: DataFrame, scope: CacheScope | None = None) -> DataFrame:
    """Share one derivation across plan branches: persisted below
    `plans.scale_gate`'s floor, written to a fresh Parquet directory
    and read back at or above it (module docstring). Registers the
    intermediate with ``scope`` when one is given."""
    if not scale_gate(df):
        return scope.persist(df) if scope is not None else df.persist()
    if _materialize_observer is not None:
        _materialize_observer(df)
    spark = df.sparkSession
    # one fresh directory per call: two lazily returned results of one
    # application must never overwrite each other's files
    path = str(Path(app_scratch_dir(spark, "materialize")) / uuid.uuid4().hex)
    if scope is not None:
        scope.add_dir(path)
    # zstd for the shared intermediates only: measured equal-or-faster
    # than snappy on the storage-branch dedup row both A/B trials and
    # ~3.7× smaller — fingerprint/signature tables are compressible.
    # NOT a session default: the same A/B on a high-entropy 1 KB-value
    # op-log write showed zstd can cost up to 3.5× write throughput
    # (guide §2.3 — high-entropy payloads), and op-log codecs remain a
    # per-table schema property (sources/tables.schema_codec).
    df.write.option("compression", "zstd").parquet(path)
    return spark.read.parquet(path)


# Observation hook for plan reporting: a storage-branch operator's
# shuffles run in the materialization BUILD jobs, before the returned
# plan exists — so the returned plan honestly reads Ex=0 while the real
# exchanges live here. scripts/plan_report.py sets an observer to
# capture each materialized DataFrame's plan features (the mat-Ex
# column); None (the default) is zero-overhead.
_materialize_observer = None


def set_materialize_observer(fn) -> None:
    """Install ``fn(df)`` to be called with every DataFrame that
    ``materialize()`` is about to write to storage; pass None to
    remove. Driver-side reporting only — never load-bearing."""
    global _materialize_observer
    _materialize_observer = fn


def app_scratch_dir(spark, tag: str) -> str:
    """A scratch directory that does not leak: the path is keyed by the
    Spark applicationId and ``tag`` (repeated calls with one tag in one
    application get the SAME directory — callers that need isolation
    per call, like `materialize`, make fresh subdirectories in it), and
    an atexit rmtree reaps it when the process exits (a scratch keyed
    to this app is unreachable by any other process anyway, so at-exit
    removal loses nothing)."""
    import atexit
    import tempfile

    d = Path(tempfile.gettempdir()) / (
        "tera_spark_scratch_" + spark.sparkContext.applicationId + "_" + tag
    )
    if d not in _REAPED_SCRATCH:
        _REAPED_SCRATCH.add(d)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    d.mkdir(parents=True, exist_ok=True)
    return str(d)


_REAPED_SCRATCH: set = set()
