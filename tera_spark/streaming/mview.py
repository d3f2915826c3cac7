"""Incrementally-maintained materialized current view.

The reference keeps reads fast by folding the LSM during compaction;
readers between compactions pay merge-on-read. This module is the
third point in that design space: an observer-style pipeline that
keeps a FOLDED view table continuously current as op-log batches
arrive, so readers pay neither a full fold nor merge-on-read.

Mechanics (the scale story):

- The view table is directory-partitioned by ``tablet`` =
  ``xxhash64(row_key) % n_tablets`` — the Spark analog of tera's
  tablet split, chosen by hash so maintenance load spreads evenly.
- Each micro-batch marks its row_keys dirty, refolds ONLY those keys'
  full history (a semi-join that prunes the sorted op-log via
  row_key min/max footers), and rewrites ONLY the tablet partitions
  containing dirty keys (dynamic partition overwrite). Write
  amplification per batch is bounded by (dirty tablets) ×
  (tablet size), never the table size.
- The checkpoint is the ack (exactly-once over append-only op-log
  files); ``refresh()`` with availableNow drains pending batches and
  terminates, cron-style.

Invariant (pinned by tests/test_mview.py): after any sequence of
appends + refreshes, ``read()`` is row-identical to folding the whole
op-log with ``current_view`` — the same compact≡view equivalence the
batch compactor pins.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tera_spark.model import CELL_SCHEMA
from tera_spark.operators.view import current_view


def _tablet(col: str, n: int):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast("int")


class MaterializedCurrentView:
    """Maintain a folded view table for catalog table ``name``.

    ``now_us`` freezes the TTL clock (passed through to the fold) so
    every refresh applies one consistent notion of "now"; pass None to
    use wall clock at construction.
    """

    def __init__(
        self,
        catalog,
        name: str,
        view_path: str,
        checkpoint_path: str,
        *,
        n_tablets: int = 16,
        now_us: int | None = None,
        changes_path: str | None = None,
    ):
        self.catalog = catalog
        self.name = name
        self.view_path = view_path
        self.checkpoint_path = checkpoint_path
        self.n_tablets = n_tablets
        self.now_us = now_us if now_us is not None else int(time.time() * 1_000_000)
        self.changes_path = changes_path

    # -- one micro-batch -------------------------------------------------
    def _refresh_batch(self, batch: DataFrame, _epoch_id: int) -> None:
        spark = batch.sparkSession
        dirty_keys = batch.select("row_key").distinct()
        # full history of dirty keys only; the broadcast semi-join lets
        # the parquet scan skip clean files via row_key min/max stats
        hist = self.catalog.read_oplog(self.name).join(
            F.broadcast(dirty_keys), "row_key", "left_semi"
        )
        # re-derive the op mix each refresh — it can change batch to
        # batch, and commit records are the proof (same routing
        # Catalog.view uses)
        folded = current_view(
            hist,
            self.catalog.get_schema(self.name),
            now_us=self.now_us,
            op_kinds=self.catalog._op_kinds_union(self.name),
        ).withColumn("tablet", _tablet("row_key", self.n_tablets))

        vdir = Path(self.view_path)
        if not any(vdir.glob("tablet=*")):
            folded.write.partitionBy("tablet").mode("overwrite").parquet(self.view_path)
            if self.changes_path is not None:
                self._emit_changes(None, folded, _epoch_id)
            return

        dirty_tablets = [
            r.tablet
            for r in dirty_keys.select(
                _tablet("row_key", self.n_tablets).alias("tablet")
            )
            .distinct()
            .collect()
        ]
        survivors = (
            spark.read.option("basePath", self.view_path)
            .parquet(
                *[f"{self.view_path}/tablet={t}" for t in dirty_tablets if (vdir / f"tablet={t}").exists()]
            )
            .join(F.broadcast(dirty_keys), "row_key", "left_anti")
            if any((vdir / f"tablet={t}").exists() for t in dirty_tablets)
            else None
        )
        if self.changes_path is not None:
            old = (
                spark.read.option("basePath", self.view_path)
                .parquet(
                    *[
                        f"{self.view_path}/tablet={t}"
                        for t in dirty_tablets
                        if (vdir / f"tablet={t}").exists()
                    ]
                )
                .join(F.broadcast(dirty_keys), "row_key", "left_semi")
                if any((vdir / f"tablet={t}").exists() for t in dirty_tablets)
                else None
            )
            self._emit_changes(old, folded, _epoch_id)

        out = folded if survivors is None else survivors.unionByName(folded)
        # stage-and-swap, never overwrite-what-you-read: the survivors
        # plan reads the very partitions being replaced, so the new
        # content lands in a staging dir first, then dirty tablet dirs
        # swap in one rename each (atomic per directory on HDFS — the
        # compact_inplace pattern). A tablet whose every row was
        # deleted simply has no staged dir and its old dir is dropped.
        staging = vdir.parent / f".{vdir.name}.staging-{_epoch_id}"
        out.write.partitionBy("tablet").mode("overwrite").parquet(str(staging))
        for t in dirty_tablets:
            dst = vdir / f"tablet={t}"
            src = staging / f"tablet={t}"
            shutil.rmtree(dst, ignore_errors=True)
            if src.exists():
                src.rename(dst)
        shutil.rmtree(staging, ignore_errors=True)

    def _emit_changes(self, old: DataFrame | None, new: DataFrame, epoch_id: int) -> None:
        """Write this refresh's INSERT/UPDATE/DELETE set (newest version
        per column, diffed old vs new) under ``batch=<epoch_id>`` —
        overwrite per epoch, so a replayed micro-batch rewrites the same
        directory instead of appending duplicates (the checkpoint/ack
        idempotence the observer pipeline relies on)."""

        def latest(df: DataFrame, out: str) -> DataFrame:
            return df.groupBy("row_key", "cf", "qualifier").agg(
                F.max_by("value", "ts").alias(out)
            )

        n = latest(new, "new_value")
        if old is None:
            ch = n.select(
                "row_key",
                "cf",
                "qualifier",
                F.lit("INSERT").alias("change_type"),
                F.lit(None).cast("binary").alias("old_value"),
                "new_value",
            )
        else:
            j = latest(old, "old_value").join(
                n, ["row_key", "cf", "qualifier"], "full_outer"
            )
            change = (
                F.when(F.col("old_value").isNull(), F.lit("INSERT"))
                .when(F.col("new_value").isNull(), F.lit("DELETE"))
                .when(F.col("old_value") != F.col("new_value"), F.lit("UPDATE"))
            )
            ch = (
                j.withColumn("change_type", change)
                .filter(F.col("change_type").isNotNull())
                .select(
                    "row_key", "cf", "qualifier", "change_type", "old_value", "new_value"
                )
            )
        ch.write.mode("overwrite").parquet(f"{self.changes_path}/batch={epoch_id}")

    def read_changes(self) -> DataFrame:
        """All emitted change batches (column ``batch`` = refresh epoch)."""
        return self.catalog.spark.read.option("basePath", self.changes_path).parquet(
            self.changes_path
        )

    # -- public API ------------------------------------------------------
    def refresh(self, timeout_s: int = 300) -> None:
        """Drain all unprocessed op-log batches into the view
        (availableNow trigger; the checkpoint remembers progress)."""
        spark = self.catalog.spark
        stream = spark.readStream.schema(CELL_SCHEMA).parquet(
            self.catalog.oplog_path(self.name)
        )
        q = (
            stream.writeStream.foreachBatch(self._refresh_batch)
            .option("checkpointLocation", self.checkpoint_path)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)

    def read(self) -> DataFrame:
        return self.catalog.spark.read.option("basePath", self.view_path).parquet(
            self.view_path
        ).drop("tablet")
