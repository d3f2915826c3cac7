"""Scan / point-get / batch-get over cell tables.

Re-expresses the reference read entry points (SURVEY.md §3.1/§3.3):
`Table::Scan(ScanDescriptor)` (include/tera/scan.h:71-127, server
`TabletIO::LowLevelScan` src/io/tablet_io.cc:939-1137), `Table::Get`
(include/tera/table.h:85-95, `LowLevelSeek` :1148-1343) and batched
gets (`TableImpl::DistributeTasks` src/sdk/table_impl.cc:585-696).

Order of application mirrors the server:
  1. row-key range + column-family set — *early*, pushed into the
     Parquet scan (the reference prunes locality groups and tablets
     the same way, tablet_io.cc:2222-2237); row-delete marks are kept
     regardless of cf projection (`type != TKT_DEL` guard, :1020).
  2. current-view fold (tombstones/TTL/merge/schema max_versions).
  3. scan-level max_versions (scan loop :1057) and max_qualifiers
     (:1063, counted in qualifier order before projection).
  4. qualifier projection and time-range — *post*-filters after
     version counting (`ProcessRowBuffer`, tablet_io.cc:2287-2323).

Tablet routing / sessions / sliding-window prefetch have no analog
here: this is the Spark scan, the DataFrame form over any range. The
SDK's row-bounded scan is the seek path's paged scan
(`operators/seek.Seeker.scan_range`), which also serves
`Table.scan_df` when the op-log footers prove the range small; both
are pinned equal to this operator by tests/test_seek.py.
"""

from __future__ import annotations

import operator
from collections.abc import Collection
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tera_spark.model import CellOp
from tera_spark.operators.view import current_view
from tera_spark.registry import TableSchema


@dataclass
class ScanDescriptor:
    """Client-side scan AST (include/tera/scan.h:71-127)."""

    start: str | None = None          # inclusive row_key bound
    end: str | None = None            # exclusive row_key bound
    column_families: list[str] | None = None          # AddColumnFamily (scan.h:80)
    columns: dict[str, list[str]] | None = None       # AddColumn cf→quals (scan.h:84)
    max_versions: int | None = None                   # SetMaxVersions (scan.h:88)
    max_qualifiers: int | None = None                 # SetMaxQualifiers (scan.h:91)
    ts_start: int | None = None                       # SetTimeRange (scan.h:96)
    ts_end: int | None = None
    number_limit: int | None = None                   # SetNumberLimit (scan.h:108)


def scan(
    cells: DataFrame,
    schema: TableSchema | None,
    desc: ScanDescriptor | None = None,
    *,
    now_us: int | None = None,
    snapshot_seq: int | None = None,
    op_kinds: Collection[int] | None = None,
) -> DataFrame:
    desc = desc or ScanDescriptor()
    df = cells

    # 1. early pushdown: row range + cf set (marks exempt where needed).
    # User values (bounds, cf names) stay F.lit parameters; only the op
    # code is SQL text.
    pushed = []
    if desc.start is not None:
        pushed.append(F.col("row_key") >= F.lit(desc.start))
    if desc.end is not None:
        pushed.append(F.col("row_key") < F.lit(desc.end))
    if desc.column_families or desc.columns:
        cf_set = sorted(set(desc.column_families or []) | set((desc.columns or {}).keys()))
        pushed.append(F.col("cf").isin(cf_set) | F.expr(f"op = {CellOp.DEL_ROW}"))
    if pushed:
        df = df.filter(reduce(operator.and_, pushed))

    # 2. fold to visible cells (op_kinds = caller's op-mix promise,
    # routes the fold — see current_view)
    v = current_view(df, schema, now_us=now_us, snapshot_seq=snapshot_seq, op_kinds=op_kinds)

    # 3. scan-level version / qualifier caps
    if desc.max_versions is not None:
        v = v.withColumn(
            "_vn", F.expr("row_number() OVER (PARTITION BY row_key, cf, qualifier ORDER BY ts DESC)")
        ).filter(F.col("_vn") <= desc.max_versions).drop("_vn")
    if desc.max_qualifiers is not None:
        v = v.withColumn(
            "_qn", F.expr("dense_rank() OVER (PARTITION BY row_key, cf ORDER BY qualifier)")
        ).filter(F.col("_qn") <= desc.max_qualifiers).drop("_qn")

    # 4. post-filters: qualifier projection, then time range
    if desc.columns:
        conds = None
        for cf, quals in desc.columns.items():
            c = (F.col("cf") == cf) & (F.col("qualifier").isin(quals) if quals else F.lit(True))
            conds = c if conds is None else (conds | c)
        if desc.column_families:
            conds = conds | F.col("cf").isin(desc.column_families)
        v = v.filter(conds)
    if desc.ts_start is not None:
        v = v.filter(F.col("ts") >= desc.ts_start)
    if desc.ts_end is not None:
        v = v.filter(F.col("ts") <= desc.ts_end)
    if desc.number_limit is not None:
        # the first N cells in scan order, not any N of the unordered
        # fold (plans as TakeOrderedAndProject)
        v = v.orderBy("row_key", "cf", "qualifier", F.desc("ts")).limit(desc.number_limit)
    return v


def get(
    cells: DataFrame,
    schema: TableSchema | None,
    row_key: str,
    *,
    columns: dict[str, list[str]] | None = None,
    max_versions: int | None = None,
    ts_range: tuple[int, int] | None = None,
    now_us: int | None = None,
    op_kinds: Collection[int] | None = None,
) -> DataFrame:
    """Point read (RowReader, include/tera/reader.h:25-99). The
    row_key equality predicate reaches the Parquet scan, so a table
    written range-sorted by row_key prunes to one file + row groups —
    the Spark analog of LowLevelSeek."""
    desc = ScanDescriptor(
        start=row_key,
        end=row_key + "\x00",
        columns=columns,
        max_versions=max_versions,
        ts_start=ts_range[0] if ts_range else None,
        ts_end=ts_range[1] if ts_range else None,
    )
    return scan(cells, schema, desc, now_us=now_us, op_kinds=op_kinds)


def batch_get(
    cells: DataFrame,
    schema: TableSchema | None,
    keys: DataFrame | list[str],
    *,
    now_us: int | None = None,
    op_kinds: Collection[int] | None = None,
) -> DataFrame:
    """Batched point reads (Table::Get(vector<RowReader*>)): a
    broadcast semi-join of the key set against the cell table — the
    per-server task grouping of DistributeTasks becomes a join the
    optimizer schedules."""
    spark = cells.sparkSession
    kdf = keys if isinstance(keys, DataFrame) else spark.createDataFrame(
        [(k,) for k in keys], "row_key string"
    )
    pruned = cells.join(F.broadcast(kdf), "row_key", "left_semi")
    return current_view(pruned, schema, now_us=now_us, op_kinds=op_kinds)


def to_row_map(visible: DataFrame) -> DataFrame:
    """RowReader::ToMap analog (include/tera/reader.h:52-55): nest the
    visible cells of each row as cf → qualifier → [(ts desc, value)]."""
    by_qual = (
        visible.groupBy("row_key", "cf", "qualifier")
        .agg(
            F.reverse(F.sort_array(F.collect_list(F.struct("ts", "value")))).alias("versions")
        )
    )
    by_cf = by_qual.groupBy("row_key", "cf").agg(
        F.map_from_entries(F.collect_list(F.struct("qualifier", "versions"))).alias("quals")
    )
    return by_cf.groupBy("row_key").agg(
        F.map_from_entries(F.collect_list(F.struct("cf", "quals"))).alias("row")
    )
