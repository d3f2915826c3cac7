"""Driver-side point-read fast path — the `LowLevelSeek` analog.

The reference serves point reads with a direct three-level LevelDB seek
(`TabletIO::LowLevelSeek`, src/io/tablet_io.cc:1148-1343) — routed by
the meta table to one tablet, then a block-index seek — NOT by running
the scan pipeline. Our Spark `operators/scan.get` is semantically the
scan-degenerate path (`tablet_io.cc:1439-1451`); it is correct but pays
a distributed-job fixed cost (~100 ms scheduling) per call, which
dominates single-row reads — exactly the workload behind tera's
32,000-QPS random-read number (doc/en/performance.md:31).

This module is the seek path:

  1. route the key to op-log files and
  2. prune to the row groups whose row_key min/max cover the key,
     both from the table's op-log index (tera_spark/oplog_index.py:
     the SDK's meta-table tablet lookup,
     `GetTabletAddrOrScheduleUpdateMeta` src/sdk/table_impl.cc:1452,
     and the LevelDB block-index seek);
  3. read only those row groups with pyarrow — no Spark job — through
     the catalog's block cache of decoded row groups
     (oplog_index.BlockCache), which point reads fill;
  4. fold the row's cells with a pure-Python twin of
     `operators/view.current_view` (same semantics as the Spark fold,
     the way the reference shares `CompactStrategy` logic between the
     seek and scan paths).

At 100 TB the "driver" is any client process with DFS access — the
same topology as tera's SDK hitting tabletservers directly: a point
read touches one row group, never a cluster job. The index reads a
footer once per file identity (name, size, mtime, inode), mirroring
the SDK meta cache; a catalog Seeker shares its table's index.

Range scans take the same path, paged like tera's ResultStream
(`ResultStreamImpl`, src/sdk/scan_impl.h:83-100): ``scan_range``
holds one page, not the range.

Equivalence with the Spark fold is pinned by property tests
(tests/test_seek.py) against the Spark scan operator: random op-logs →
`Seeker.get` ≡ `scan.get`, and `Table.scan` and a small `scan_df` (which
reads through ``scan_range``) ≡ `operators.scan.scan` of the op-log.
"""

from __future__ import annotations

import time
from bisect import bisect_left
from collections import defaultdict
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from itertools import groupby, islice
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tera_spark.model import CellOp
from tera_spark.oplog_index import BlockCache, FileMeta, OplogIndex, seq_hidden
from tera_spark.registry import TableSchema

_ATOMIC = frozenset(
    (CellOp.ADD, CellOp.ADDINT64, CellOp.APPEND, CellOp.PUT_IFABSENT)
)
_MARKS = frozenset((CellOp.DEL_ROW, CellOp.DEL_FAMILY, CellOp.DEL_QUALIFIERS))
_NEG_INF = -(1 << 62)
_CELL_COLS = ["row_key", "cf", "qualifier", "ts", "op", "value", "seq"]
_KV_COLS = ["key", "value", "expire_ts", "seq"]
_THREADS = 8  # parallel row-group reads per multi_get or scan page
_PAGE_ROWS = 4096  # op-log rows a range scan buffers before it folds


def _now_us() -> int:
    return int(time.time() * 1_000_000)


def _wrap_i64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def _be(v: int) -> bytes:
    return (v & ((1 << 64) - 1)).to_bytes(8, "big")


def _le(v: int) -> bytes:
    return (v & ((1 << 64) - 1)).to_bytes(8, "little")


def _i64(b: bytes, byteorder: str) -> int:
    # the codecs' width rule (functions/codecs.py): left-pad with zero
    # bytes or keep the first 8, then read in byte order
    return int.from_bytes(b.rjust(8, b"\0")[:8], byteorder, signed=True)


def _post_fold(
    cells: list[tuple],
    columns: dict[str, list[str]] | None,
    max_versions: int | None,
    ts_range: tuple[int | None, int | None] | None,
    *,
    column_families: list[str] | None = None,
    max_qualifiers: int | None = None,
) -> list[tuple]:
    """Scan-level semantics on one row's folded cells, mirroring
    scan.py steps 1 and 3-4: the cf set, then the version and qualifier
    caps count BEFORE the projection and time-range post-filters (a
    None time bound is open). Returns cells in (cf, qualifier, ts desc)
    order."""
    cells = sorted(cells, key=lambda c: (c[1], c[2], -c[3]))
    if column_families or columns:
        cfs = set(column_families or ()) | set(columns or ())
        cells = [c for c in cells if c[1] in cfs]
    if max_versions is not None or max_qualifiers is not None:
        kept = []
        for _, by_cf in groupby(cells, key=lambda c: c[1]):
            cols = groupby(by_cf, key=lambda c: c[2])
            for _, versions in islice(cols, max_qualifiers):
                kept.extend(islice(versions, max_versions))
        cells = kept
    if columns:
        cells = [
            c
            for c in cells
            if (c[1] in columns and (not columns[c[1]] or c[2] in columns[c[1]]))
            or (column_families and c[1] in column_families)
        ]
    if ts_range is not None:
        lo, hi = ts_range
        cells = [c for c in cells if (lo is None or lo <= c[3]) and (hi is None or c[3] <= hi)]
    return cells


def fold_row(
    rows: list[tuple],
    schema: TableSchema | None,
    *,
    now_us: int,
    default_max_versions: int = 1,
) -> list[tuple]:
    """Fold one row's op-log cells into visible cells.

    ``rows``: (row_key, cf, qualifier, ts, op, value, seq) tuples, all
    with the same row_key. Returns (row_key, cf, qualifier, ts, value)
    tuples. Exact twin of `current_view` (view.py) for a single row —
    the shared-semantics invariant is enforced by tests/test_seek.py.
    """
    cf_props = (
        {c.name: c for c in schema.column_families.values()}
        if schema is not None and schema.column_families
        else None
    )

    # delete-mark maxima per granularity (masks are ts-inclusive)
    del_row = _NEG_INF
    del_cf: dict[str, int] = defaultdict(lambda: _NEG_INF)
    del_qu: dict[tuple, int] = defaultdict(lambda: _NEG_INF)
    for rk, cf, qu, ts, op, val, seq in rows:
        if op == CellOp.DEL_ROW:
            del_row = max(del_row, ts)
        elif op == CellOp.DEL_FAMILY:
            del_cf[cf] = max(del_cf[cf], ts)
        elif op == CellOp.DEL_QUALIFIERS:
            del_qu[(cf, qu)] = max(del_qu[(cf, qu)], ts)

    cols: dict[tuple, list] = defaultdict(list)
    for rk, cf, qu, ts, op, val, seq in rows:
        if op in _MARKS:
            continue
        if ts <= max(del_row, del_cf[cf], del_qu[(cf, qu)]):
            continue
        if cf_props is not None:
            if cf not in cf_props:
                continue
            ttl = cf_props[cf].ttl
            if op >= CellOp.PUT and ttl > 0 and ts < now_us - ttl * 1_000_000:
                continue
        cols[(rk, cf, qu)].append((ts, op, val, seq))

    out: list[tuple] = []
    for (rk, cf, qu), entries in cols.items():
        maxv = (
            cf_props[cf].max_versions if cf_props is not None else default_max_versions
        )
        # LevelDB iteration order: ts desc, op asc (marks before
        # values), seq desc — same sort key as the Spark fold's
        # (nts, sop, nseq) struct sort.
        entries.sort(key=lambda x: (-x[0], x[1], -x[3]))

        # leading run of atomic ops + PUT merge base
        run = 0
        while run < len(entries) and entries[run][1] in _ATOMIC:
            run += 1
        glen = run + (
            1 if 0 < run < len(entries) and entries[run][1] == CellOp.PUT else 0
        )
        grp, rest = entries[:glen], entries[glen:]
        if run > 0 and maxv >= 1:
            kind = grp[0][1]
            deduped = [
                x
                for i, x in enumerate(grp)
                if x[1] == CellOp.PUT or i == 0 or x[0] != grp[i - 1][0]
            ]
            mergeable = [x for x in deduped if x[1] in (kind, CellOp.PUT)]
            if kind == CellOp.ADD:
                val = _be(_wrap_i64(sum(_i64(x[2], "big") for x in mergeable)))
            elif kind == CellOp.ADDINT64:
                val = _le(_wrap_i64(sum(_i64(x[2], "little") for x in mergeable)))
            elif kind == CellOp.APPEND:
                val = b"".join(x[2] for x in reversed(mergeable))
            else:  # PUT_IFABSENT: oldest wins
                val = mergeable[-1][2]
            out.append((rk, cf, qu, grp[0][0], val))

        # remainder: DEL_QUALIFIER arming + schema version cap
        vnum = 1 if run > 0 else 0
        prev = 0
        for ts, op, val, seq in rest:
            consumed = prev == CellOp.DEL_QUALIFIER
            if op == CellOp.PUT:
                vnum += 1
                if not consumed and vnum <= maxv:
                    out.append((rk, cf, qu, ts, val))
            prev = op
    return out


def fold_kv(rows: list[tuple], now_us: int) -> tuple | None:
    """One key's KV op-log rows (key, value, expire_ts, seq) → visible
    (key, value, expire_ts) or None: the newest write by seq wins, a NULL
    value is a tombstone, an expired TTL hides (kv_current_view twin)."""
    key, value, expire, _ = max(rows, key=lambda r: r[3], default=(None,) * 4)
    if value is None or (expire is not None and 0 < expire <= now_us):
        return None
    return key, value, expire


class Seeker:
    """Point-read and range-scan client over a catalog table, routed by
    the table's op-log index and reading through the block cache, both
    shared with the catalog (the SDK meta cache and the tablet server's
    block cache); ``schema`` pins the fold's schema. ``Seeker(path=...)``
    indexes that directory itself, with a cache of its own and no commit
    census: no watermark, gap or rollback mask applies."""

    def __init__(
        self,
        catalog=None,
        table: str | None = None,
        *,
        path: str | None = None,
        schema: TableSchema | None = None,
    ):
        if catalog is not None:
            self._index = catalog.oplog_index(table)
            self._cache = catalog.block_cache
            self._get_masks = lambda: catalog._seq_masks(table)
            self.gate = lambda action="read": catalog._read_gate(table, action)
        else:
            self._cache = BlockCache()
            self._index = OplogIndex(Path(path), cache=self._cache)
            self._get_masks = lambda: (None, [])
            self.gate = lambda action="read": None
        # re-read per use (stat-guarded): an online update_schema
        # applies to the next read, as it does on the Spark path
        self._get_schema = (
            (lambda: catalog.current_schema(table)) if catalog is not None and schema is None
            else (lambda: schema)
        )

    # --- routing ------------------------------------------------------

    @property
    def schema(self) -> TableSchema | None:
        return self._get_schema()

    @property
    def _kv(self) -> bool:
        return bool(self.schema is not None and self.schema.kv_mode)

    def _group(self, m: FileMeta, rg: int, columns: list[str]) -> pa.Table:
        """Row group ``rg`` of ``m`` read from disk: ``columns`` plus
        expire_ts when the file has it."""
        pf = pq.ParquetFile(str(m.path))
        if "expire_ts" not in columns and "expire_ts" in pf.schema_arrow.names:
            columns = columns + ["expire_ts"]
        return pf.read_row_group(rg, columns=columns)

    def _groups(self, work, columns: list[str], fill: bool) -> list[pa.Table]:
        """The row groups ``work`` [(file, row group)]: hits from the
        block cache, misses read from disk (in parallel when there are
        several; pyarrow releases the GIL during IO and decode) and
        cached when ``fill``."""
        keys = [(str(m.path), m.ident, rg, tuple(columns)) for m, rg in work]
        tables = [self._cache.get(k) for k in keys]
        misses = [i for i, t in enumerate(tables) if t is None]
        if len(misses) > 1:
            with ThreadPoolExecutor(max_workers=_THREADS) as ex:
                loaded = list(ex.map(lambda i: self._group(*work[i], columns), misses))
        else:
            loaded = [self._group(*work[i], columns) for i in misses]
        for i, t in zip(misses, loaded):
            tables[i] = t
            if fill:
                self._cache.put(keys[i], t)
        return tables

    def _read(
        self, work, row_mask, now_us: int | None, snapshot_seq: int | None = None,
        *, fill: bool = True,
    ):
        """Visible op-log rows by key, of the row groups ``work``
        [(file, row group)] where ``row_mask(table)`` holds (None: every
        row); table-mode rows are 7-tuples. Misses enter the block cache
        when ``fill`` (point reads; a range scan only uses hits, as
        LevelDB's ``fill_cache=false`` keeps a scan from flushing it).
        Visibility applies the rules read_oplog applies, so the seek
        path agrees with Spark reads: rollback windows, the commit
        watermark, commit-CAS gaps, an optional snapshot; then, unless
        ``now_us`` is None, per-cell TTL (the expire_ts column, present
        only in files written by TTL puts)."""
        columns = _KV_COLS if self._kv else _CELL_COLS
        n = len(columns)
        # masked seq windows: RollbackDrop (dbformat.h:156) and the
        # in-flight/crashed concurrent windows below the watermark
        watermark, masked = self._get_masks()
        # above the top: a torn batch over the watermark, or the snapshot
        top = min((x for x in (watermark, snapshot_seq) if x is not None), default=None)
        by_key: dict[str, list[tuple]] = defaultdict(list)
        for t in self._groups(work, columns, fill):
            mask = row_mask(t) if row_mask is not None else None
            t = t if mask is None else t.filter(mask)
            has_ttl = "expire_ts" not in columns and "expire_ts" in t.column_names
            cols = columns + ["expire_ts"] if has_ttl else columns
            for row in zip(*(t[c].to_pylist() for c in cols)):
                if seq_hidden(row[n - 1], top, masked):
                    continue
                if has_ttl:
                    if now_us is not None and row[-1] is not None and 0 < row[-1] <= now_us:
                        continue  # per-cell TTL (mutation.h:30-33)
                    row = row[:n]
                by_key[row[0]].append(row)
        return by_key

    def _route(self, keys: list[str]) -> list[tuple[FileMeta, int]]:
        """(file, row group) of every row group whose key bounds admit
        one of ``keys`` (all of them without bounds)."""
        ks = sorted(keys)
        return [
            (m, rg) for lo, hi, m, rg in self._index.groups()
            if lo is None or hi is None or ((i := bisect_left(ks, lo)) < len(ks) and ks[i] <= hi)
        ]

    def range_groups(self, start: str | None, end: str | None) -> list[tuple]:
        """(key lo, key hi, file, row group) of every row group that may
        hold a key of [start, end), in key-``lo`` order: the groups
        ``scan_range`` reads. Groups without key bounds may hold any key
        and sort first."""
        return sorted((
            g for g in self._index.groups() if g[0] is None or g[1] is None
            or not ((end is not None and g[0] >= end) or (start is not None and g[1] < start))
        ), key=lambda g: g[0] or "")

    def range_size(self, start: str | None, end: str | None) -> tuple[int, int]:
        """(op-log rows, uncompressed bytes) of ``range_groups``, from
        the footers: an upper bound of what a scan of the range reads."""
        sizes = [m.groups[rg][2:] for _, _, m, rg in self.range_groups(start, end)]
        return sum(r for r, _ in sizes), sum(b for _, b in sizes)

    def _read_keys(self, keys: list[str], now_us: int | None, snapshot_seq: int | None = None):
        key_col, wanted = ("key" if self._kv else "row_key"), pa.array(keys)
        return self._read(
            self._route(keys), lambda t: pc.is_in(t[key_col], value_set=wanted),
            now_us, snapshot_seq,
        )

    # --- public API ---------------------------------------------------

    def get(self, row_key: str, **kw) -> list[tuple]:
        """``multi_get`` of one key: its visible cells, or []."""
        return self.multi_get([row_key], **kw).get(row_key, [])

    def multi_get(
        self,
        keys: list[str],
        *,
        columns: dict[str, list[str]] | None = None,
        max_versions: int | None = None,
        ts_range: tuple[int, int] | None = None,
        now_us: int | None = None,
        snapshot_seq: int | None = None,
    ) -> dict[str, list[tuple]]:
        """Batched point reads. Returns row_key → visible cells
        (row_key, cf, qualifier, ts, value), newest-first per column —
        the iteration order of `RowReader::ToMap`
        (include/tera/reader.h:52-55)."""
        if self._kv:
            raise ValueError("use get_kv for KV-mode tables")
        now_us = _now_us() if now_us is None else now_us
        by_key = self._read_keys(list(dict.fromkeys(keys)), now_us, snapshot_seq)
        schema = self.schema
        out: dict[str, list[tuple]] = {}
        for k, rows in by_key.items():
            cells = _post_fold(
                fold_row(rows, schema, now_us=now_us), columns, max_versions, ts_range
            )
            if cells:
                out[k] = cells
        return out

    def oplog_rows(self, keys: list[str]) -> dict[str, list[tuple]]:
        """``keys``' op-log rows as ``Catalog.read_oplog`` shows them:
        masked, per-cell TTL not applied (transaction conflict checks)."""
        return self._read_keys(keys, None)

    def scan_range(
        self,
        start: str | None = None,
        end: str | None = None,
        *,
        columns: dict[str, list[str]] | None = None,
        column_families: list[str] | None = None,
        max_versions: int | None = None,
        max_qualifiers: int | None = None,
        ts_range: tuple[int | None, int | None] | None = None,
        number_limit: int | None = None,
        now_us: int | None = None,
        snapshot_seq: int | None = None,
    ) -> Iterator[tuple]:
        """Ordered scan of [start, end), paged like `LowLevelScan`
        (src/io/tablet_io.cc:939-1137): row groups are read in key-``lo``
        order until ``_PAGE_ROWS`` op-log rows are buffered; keys below
        the next unread group's ``lo`` are complete, so they fold and
        stream out, and the rest carries over. Memory is the overlap
        depth times one page, for any range size. Yields table cells
        (row_key, cf, qualifier, ts, value) in scan order, with
        `operators.scan`'s options, or KV (key, value, expire_ts)."""
        now_us = _now_us() if now_us is None else now_us
        schema = self.schema
        kv = bool(schema is not None and schema.kv_mode)
        key_col = "key" if kv else "row_key"
        work = self.range_groups(start, end)

        def in_range(t):
            m = None
            if start is not None:
                m = pc.greater_equal(t[key_col], start)
            if end is not None:
                lt = pc.less(t[key_col], end)
                m = lt if m is None else pc.and_(m, lt)
            return m

        def pages():
            pending: dict[str, list[tuple]] = defaultdict(list)
            i = 0
            while True:
                page, buffered = [], sum(map(len, pending.values()))
                while i < len(work) and (not page or buffered < _PAGE_ROWS):
                    _, _, m, rg = work[i]
                    page.append((m, rg))
                    buffered += m.groups[rg][2]
                    i += 1
                got = self._read(page, in_range, now_us, snapshot_seq, fill=False)
                for k, rows in got.items():
                    pending[k].extend(rows)
                # no unread group can add to a key below its lo
                bound = (work[i][0] or "") if i < len(work) else None
                for k in sorted(k for k in pending if bound is None or k < bound):
                    rows = pending.pop(k)
                    if kv:
                        if (got := fold_kv(rows, now_us)) is not None:
                            yield got
                    else:
                        yield from _post_fold(
                            fold_row(rows, schema, now_us=now_us), columns, max_versions,
                            ts_range, column_families=column_families,
                            max_qualifiers=max_qualifiers,
                        )
                if i == len(work):
                    return

        return islice(pages(), number_limit)

    def get_kv(self, key: str, *, now_us: int | None = None):
        """KV-mode point read: the ``fold_kv`` of the key's rows (the
        kv_current_view twin); its value, or None."""
        if not self._kv:
            raise ValueError("use get for table-mode tables")
        now_us = _now_us() if now_us is None else now_us
        got = fold_kv(self._read_keys([key], now_us).get(key, []), now_us)
        return got[1] if got is not None else None
