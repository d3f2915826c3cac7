"""Per-table op-log index — the tablet version / SDK meta-cache analog
(`GetTabletAddrOrScheduleUpdateMeta`, src/sdk/table_impl.cc:1452): the
only code that opens an op-log footer or lists ``commits/``. Per file
it holds row-group (lo, hi, rows, uncompressed bytes) on the key column,
seq and op bounds and bytes; the commit census holds the watermark and
the gaps below it.

Both are memoized on a listing: files by name, size, mtime and inode
(``optimize`` rewrites files under their old names), commit records by
name (immutable once renamed in). A new file costs one footer read
(~15 µs). Each refresh swaps in an immutable snapshot by assignment, so
the HTTP proxy's threads share an index without a lock.

``BlockCache`` holds decoded row groups of indexed files, keyed by the
same file identity, for the point reads of every table of a catalog; a
refresh that sees an identity leave the listing drops its entries.
"""

from __future__ import annotations

import bisect
import json
import os
import re
import threading
from collections import OrderedDict
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_RECORD = re.compile(r"^(-?\d+)\.json$", re.M)
_CACHE_BYTES = 64 << 20  # decoded bytes the block cache holds


@dataclass(frozen=True, eq=False)
class FileMeta:
    path: Path
    ident: tuple  # (name, size, mtime_ns, inode)
    # (key lo, key hi, rows, uncompressed bytes) per row group; None
    # bounds without stats
    groups: tuple
    seq_lo: int | None  # seq/op bounds: None without rows (op: in KV files)
    seq_hi: int | None
    op_lo: int | None
    op_hi: int | None

    name = property(lambda self: self.ident[0])
    bytes = property(lambda self: self.ident[1])
    rows = property(lambda self: sum(g[2] for g in self.groups))
    key_lo = property(lambda self: min((g[0] for g in self.groups if g[0] is not None),
                                       default=None))
    key_hi = property(lambda self: max((g[1] for g in self.groups if g[1] is not None),
                                       default=None))


def seq_hidden(seq: int, top: int | None, masked) -> bool:
    """A row is masked above ``top`` or inside a [lo, hi] window."""
    return (top is not None and seq > top) or any(lo <= seq <= hi for lo, hi in masked)


def _stats(md, rg: int, ci: int | None) -> tuple:
    st = md.row_group(rg).column(ci).statistics if ci is not None else None
    if st is None or not st.has_min_max:
        return None, None
    return tuple(v.decode() if isinstance(v, bytes) else v for v in (st.min, st.max))


def _span(path: Path, md, cols: dict, name: str) -> tuple:
    """(min, max) of an integer column: from the footer, or from the
    column itself when a non-empty row group lacks statistics — a
    missing bound is read, never guessed."""
    if name not in cols or md.num_rows == 0:
        return None, None
    bounds = [_stats(md, rg, cols[name]) for rg in range(md.num_row_groups)
              if md.row_group(rg).num_rows]
    if any(lo is None for lo, _ in bounds):
        mm = pc.min_max(pq.read_table(str(path), columns=[name])[name]).as_py()
        return mm["min"], mm["max"]
    return min(b[0] for b in bounds), max(b[1] for b in bounds)


def _read_meta(path: Path, ident: tuple) -> FileMeta:
    md = pq.read_metadata(str(path))
    cols = {md.schema.column(i).path: i for i in range(md.num_columns)}
    key = cols.get("row_key", cols.get("key"))  # cell table / KV table
    groups = tuple(
        (*_stats(md, rg, key), md.row_group(rg).num_rows, md.row_group(rg).total_byte_size)
        for rg in range(md.num_row_groups)
    )
    seq, op = _span(path, md, cols, "seq"), _span(path, md, cols, "op")
    return FileMeta(path, ident, groups, *seq, *op)


def _list_files(d: Path) -> tuple:
    out = []
    try:
        with os.scandir(d) as it:
            for e in it:
                if e.name.startswith("part-") and e.name.endswith(".parquet"):
                    try:
                        st = e.stat()
                    except FileNotFoundError:  # unlinked mid-listing
                        continue
                    out.append((e.name, st.st_size, st.st_mtime_ns, e.inode()))
    except FileNotFoundError:
        pass
    return tuple(sorted(out))


class OplogIndex:
    """The index over ``oplog`` and, for a catalog table, its
    ``commits`` directory (without one the census is empty). Files that
    leave the listing are dropped from ``cache``."""

    def __init__(
        self, oplog: Path, commits: Path | None = None, cache: BlockCache | None = None
    ):
        # absolute: a file's path keys the catalog-wide block cache
        self.oplog, self.commits = Path(oplog).absolute(), commits
        self._cache = cache
        # (listing, files, (key lo, key hi, file, row group) per group)
        self._files: tuple = (None, (), ())
        # (commits/ names, record seqs, gaps or None until asked, lo by
        # seq, gap walk as (last seq walked, next expected seq, gaps) or None)
        self._census: tuple = ([], (), (), {}, None)

    def _refresh(self) -> tuple:
        listing = _list_files(self.oplog)
        snap = self._files
        if snap[0] == listing:
            return snap
        known = {m.ident: m for m in snap[1]}
        metas = []
        for ident in listing:
            try:
                metas.append(known.get(ident) or _read_meta(self.oplog / ident[0], ident))
            except FileNotFoundError:  # unlinked since the listing
                continue
        flat = tuple((lo, hi, m, rg) for m in metas for rg, (lo, hi, *_) in enumerate(m.groups))
        self._files = snap = (listing, tuple(metas), flat)
        if self._cache is not None and (gone := known.keys() - set(listing)):
            self._cache.drop(str(self.oplog), gone)
        return snap

    def files(self) -> tuple[FileMeta, ...]:
        """Every op-log file, in name order."""
        return self._refresh()[1]

    def groups(self) -> tuple[tuple, ...]:
        """(key lo, key hi, file, row group index) of every row group,
        in file name order: the routing table of point reads."""
        return self._refresh()[2]

    def raw_max_seq(self) -> int | None:
        """Max seq over every file, rolled-back windows included."""
        return self.max_seq()

    def max_seq(self, top: int | None = None, masked=()) -> int | None:
        """Max seq of a row at or below ``top`` and outside every
        ``masked`` [lo, hi] window. A visible footer max is the answer;
        only a file whose max is hidden has its seq column read."""
        best = None
        for m in sorted(self.files(), key=lambda m: (m.seq_hi is not None, m.seq_hi or 0),
                        reverse=True):
            if m.seq_hi is None or (best is not None and m.seq_hi <= best):
                break
            if not seq_hidden(m.seq_hi, top, masked):
                return m.seq_hi
            if (top is not None and m.seq_lo > top) or any(
                lo <= m.seq_lo and m.seq_hi <= hi for lo, hi in masked
            ):
                continue  # every row of the file is hidden
            seq = pq.read_table(str(m.path), columns=["seq"])["seq"]
            keep = pc.less_equal(seq, top) if top is not None else None
            for lo, hi in masked:
                out = pc.or_(pc.less(seq, lo), pc.greater(seq, hi))
                keep = out if keep is None else pc.and_(keep, out)
            v = pc.max(seq.filter(keep)).as_py()
            if v is not None and (best is None or v > best):
                best = v
        return best

    def record(self, seq: int) -> dict:
        """Commit record ``<seq>.json``; {} when unreadable."""
        try:
            return json.loads((self.commits / f"{seq}.json").read_text())
        except (OSError, json.JSONDecodeError):
            return {}

    def census(self, *, gaps: bool = True) -> tuple[int | None, tuple[tuple[int, int], ...]]:
        """(watermark, gaps) from one listing of ``commits/``: the
        highest record's seq (None without records), and the seq
        windows below it no record covers — a record's ``lo`` above the
        seq after the previous record opens one (a record without
        ``lo`` is contiguous). Gaps read each record once, so only on
        request (else ``()``), resuming the last walk while every new
        record lies above it (a lower one closes a gap: re-walk). Major
        compaction deletes the records and restarts seq at 0: a listing
        that lost a record forgets every ``lo``."""
        try:
            names = os.listdir(self.commits) if self.commits is not None else []
        except FileNotFoundError:
            names = []
        snap = self._census
        if snap[0] != names:
            marks = tuple(sorted(map(int, _RECORD.findall("\n".join(names)))))
            old = set(snap[1])
            keep = old <= set(marks)
            walk = snap[4] if keep and snap[4] and all(
                m > snap[4][0] for m in marks if m not in old
            ) else None
            snap = self._census = (names, marks, None, snap[3] if keep else {}, walk)
        marks = snap[1]
        if gaps and snap[2] is None:
            last, expected, out = snap[4] or (None, 0, ())
            los, out, whole = dict(snap[3]), list(out), True
            for seq in marks[bisect.bisect_right(marks, last) if last is not None else 0:]:
                if seq not in los:
                    if rec := self.record(seq):
                        los[seq] = rec.get("lo")
                    else:  # unreadable: retried by the next walk
                        whole = False
                lo = los.get(seq)
                if lo is not None and lo > expected:
                    out.append((expected, lo - 1))
                expected = seq + 1
            walk = (marks[-1], expected, tuple(out)) if whole and marks else None
            snap = self._census = (names, marks, tuple(out), los, walk)
        return (marks[-1] if marks else None), (snap[2] if gaps else ())


class BlockCache:
    """Decoded op-log row groups, LRU within ``_CACHE_BYTES`` decoded
    bytes (``pa.Table.nbytes``) — the tablet server's block cache
    (src/leveldb/persistent_cache/). One per catalog, shared by every
    Seeker of every table and by threads, under one lock. Keyed by
    (absolute path, file identity, row group, columns): a rewritten
    file has a new identity, and the rows are cached raw (the seek path
    applies rollback, watermark, gap, snapshot and TTL masks on every
    read), so no commit, heal or rollback invalidates an entry. The
    groups of a file that compaction or ``optimize`` unlinked or
    rewrote leave on the table index's next refresh (``drop``). A group
    larger than the budget is never cached."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._groups: OrderedDict[tuple, tuple[pa.Table, int]] = OrderedDict()
        self.hits = self.misses = self.evictions = self.bytes = 0

    def get(self, key: tuple) -> pa.Table | None:
        with self._lock:
            got = self._groups.get(key)
            if got is None:
                self.misses += 1
                return None
            self.hits += 1
            self._groups.move_to_end(key)
            return got[0]

    def put(self, key: tuple, t: pa.Table) -> None:
        size = t.nbytes
        with self._lock:
            if size > _CACHE_BYTES or key in self._groups:
                return
            self._groups[key] = (t, size)
            self.bytes += size
            while self.bytes > _CACHE_BYTES:
                self.bytes -= self._groups.popitem(last=False)[1][1]
                self.evictions += 1

    def drop(self, directory: str, idents) -> None:
        """Forget the groups of the files ``idents`` of ``directory``
        (unlinked or rewritten)."""
        gone = {str(Path(directory, i[0])): i for i in idents}
        with self._lock:
            for key in [k for k in self._groups if gone.get(k[0]) == k[1]]:
                self.bytes -= self._groups.pop(key)[1]

    def stats(self) -> dict[str, int]:
        """Counters for /metrics: hits, misses, evictions, bytes, groups."""
        with self._lock:
            return {"hits": self.hits, "misses": self.misses, "evictions": self.evictions,
                    "bytes": self.bytes, "groups": len(self._groups)}
