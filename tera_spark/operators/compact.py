"""Compaction: fold the op-log into a materialized base.

The reference's major compaction applies the same Drop/merge logic as
scans (`DefaultCompactStrategy::Drop` shares semantics with `ScanDrop`,
src/io/default_compact_strategy.cc:59-188 vs :275-402) — the key
invariant is compact-then-read ≡ read. Here compact() materializes the
current view back into op-log form (every visible version becomes a
PUT; tombstones, expired cells, out-of-version cells and merged atomic
runs disappear), so the invariant holds by construction and is pinned
by property tests (tests/test_compact.py).

At scale this is the log-folding job you run periodically so reads
scan O(live cells) instead of O(all ops) — same role as tera's
`TabletIO::Compact` (src/io/tablet_io.cc:605-632).
"""

from __future__ import annotations

from collections.abc import Collection

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tera_spark.model import CellOp
from tera_spark.operators.view import current_view
from tera_spark.registry import TableSchema


def compact(
    cells: DataFrame,
    schema: TableSchema | None = None,
    *,
    now_us: int | None = None,
    snapshot_seq: int | None = None,
    op_kinds: Collection[int] | None = None,
) -> DataFrame:
    """op-log → compacted op-log (all PUTs, seq=0). ``op_kinds``
    forwards the caller's op-mix promise to the fold (see
    current_view) — compaction of the dominant shapes then runs as
    the cheap aggregations too."""
    v = current_view(cells, schema, now_us=now_us, snapshot_seq=snapshot_seq, op_kinds=op_kinds)
    out = v.select(
        "row_key",
        "cf",
        "qualifier",
        "ts",
        F.lit(CellOp.PUT).alias("op"),
        "value",
        F.lit(0).cast("long").alias("seq"),
    )
    if "expire_ts" in cells.columns:
        # per-cell TTL survives compaction: a put whose TTL has not yet
        # fired must still expire later (the reference re-encodes the
        # expiry into the compacted SST; here the column rides along).
        # The surviving value at a coordinate is the max-seq put, so
        # max_by(seq) picks its expiry. Corner: two same-ts versions of
        # one column (maxversions>1) share the newer put's expiry.
        exp = (
            cells.filter(
                (F.col("op") == CellOp.PUT)
                & F.col("expire_ts").isNotNull()
                & (F.col("expire_ts") > 0)
            )
            .groupBy("row_key", "cf", "qualifier", "ts")
            .agg(F.max_by("expire_ts", "seq").alias("expire_ts"))
        )
        out = out.join(exp, ["row_key", "cf", "qualifier", "ts"], "left")
    return out
