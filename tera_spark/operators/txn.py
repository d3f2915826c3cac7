"""Single-row transactions: snapshot-isolated read-modify-write.

Reference: ``Table::StartRowTransaction`` (include/tera/table.h:102-104,
SDK src/sdk/single_row_txn.cc) gives the caller a snapshot of one row;
at commit the server rejects the write if the row changed since the
snapshot (``TabletWriter::CheckSingleRowTxnConflict``,
src/io/tablet_writer.h:62-64).

Re-expression: the snapshot is the row's max op sequence number at
txn start; reads are bounded by it, and commit re-reads it and refuses
the mutation batch if any later op on the row exists. All three read
through the table's ``Seeker`` (operators/seek.py), no Spark job.
Every commit takes its seqs from the table's one counter, the analog
of the tablet writer's sequence, so any write that lands before the
check sits above the snapshot, whichever handle or process made it.
The check and the commit are two steps, not one: a write landing
between them is not seen (the reference checks inside its writer
thread).

Cross-row/cross-table transactions: see ``GlobalTransaction`` below —
the Percolator capability (src/sdk/global_txn.cc) without the 2PC lock
protocol, which a single-committer engine doesn't need. Its reads and
its validation go through the Seeker too.
"""

from __future__ import annotations

from tera_spark.operators.mutation import MutationBatch
from tera_spark.operators.seek import Seeker


class RowTxnConflict(Exception):
    """Row changed between txn start and commit."""


def _newest(cells: list[tuple]) -> bytes | None:
    """The newest version's value of a one-column read, or None."""
    return bytes(cells[0][4]) if cells and cells[0][4] is not None else None


class SingleRowTransaction:
    """``row_key``'s (storage key) transaction; committed by
    ``Table.commit_row_transaction``."""

    def __init__(self, seeker: Seeker, row_key: str, *, now_us: int | None = None):
        self._seeker = seeker
        self._row_key = row_key
        self._now_us = now_us
        self._snapshot_seq = self._row_max_seq()
        self.batch = MutationBatch()

    def _row_max_seq(self) -> int | None:
        rows = self._seeker.oplog_rows([self._row_key]).get(self._row_key, [])
        return max((r[-1] for r in rows), default=None)

    # --- reads inside the txn (snapshot-bounded) ----------------------
    def read(self, cf: str, qualifier: str) -> bytes | None:
        self._seeker.gate()
        # a row without ops at the snapshot reads empty (-1: below every seq)
        snap = self._snapshot_seq if self._snapshot_seq is not None else -1
        return _newest(self._seeker.get(
            self._row_key, columns={cf: [qualifier]}, now_us=self._now_us, snapshot_seq=snap,
        ))

    # --- writes accumulate on self.batch ------------------------------
    def put(self, cf: str, qualifier: str, value, ts: int | None = None):
        self.batch.put(self._row_key, cf, qualifier, value, ts=ts)
        return self

    def delete_column(self, cf: str, qualifier: str, ts: int | None = None):
        self.batch.delete_column(self._row_key, cf, qualifier, ts=ts)
        return self

    def check(self) -> None:
        """The conflict check: raise RowTxnConflict if the row gained
        ops since the snapshot."""
        latest = self._row_max_seq()
        if latest != self._snapshot_seq:
            raise RowTxnConflict(f"row {self._row_key!r}: seq {self._snapshot_seq} -> {latest}")


class GlobalTxnConflict(Exception):
    """A written row gained ops after the transaction's snapshot."""


class GlobalTransaction:
    """Cross-row, cross-table snapshot-isolated read-modify-write —
    the capability of tera's Percolator transactions
    (``Client::NewGlobalTransaction``, include/tera/client.h:98;
    src/sdk/global_txn.cc) without the 2-phase lock protocol.

    Percolator needs prewrite locks (`!L`), a write shadow column
    (`!W`), lock cleanup and roll-forward (global_txn.cc:337-720)
    because thousands of independent clients race on shared tablets.
    In this engine the committer is a Spark driver and a commit is one
    atomic driver-written op-log append per table, so optimistic
    validation suffices:

    * snapshot   — per touched table, the max visible op ``seq`` at
      first touch (``Catalog.visible_max_seq``, from the op-log index);
      all txn reads are bounded by it (``Seeker.get(snapshot_seq=)``),
      giving a consistent cut across tables.
    * validate   — at commit, any op on a *written* row with
      ``seq > snapshot`` aborts (write-write conflict; same granularity
      as ``CheckSingleRowTxnConflict`` but across rows and tables).
    * apply      — one commit per table, its seq window from the
      table's counter (``Catalog._commit_window``), so a write that
      landed after the snapshot always sits above it; per-table
      atomicity is the storage commit. A cross-table commit manifest
      (gating readers on a txn-complete marker) is the upgrade path if
      multi-table readers must never observe a torn commit mid-failure;
      with a single driver the window is a crashed job, and re-running
      the idempotent txn closes it.

    Timestamps: the reference stamps from a timeoracle
    (src/timeoracle/timeoracle.h:27-41); monotone op ``seq`` plays that
    role here.
    """

    def __init__(self, catalog, *, now_us: int | None = None):
        self._cat = catalog
        self._now_us = now_us
        self._snap: dict[str, int] = {}
        self._snap_gaps: dict[str, list[tuple[int, int]]] = {}
        self._batches: dict[str, MutationBatch] = {}
        self._write_rows: dict[str, set[str]] = {}

    # --- hash-distribution key translation ----------------------------
    def _hk(self, table: str, key: str) -> str:
        """Hash-distributed tables (<hash=on>) store murmur-prefixed
        keys; Table promises transparency at the SDK layer, so the txn
        path must apply the same translation (reads: hashed point
        range; writes: prefixed batch keys) or a global txn on a hash
        table reads nothing and writes keys scans can never see."""
        schema = self._cat.get_schema(table)
        if schema is not None and getattr(schema, "hash_distribution", False):
            from tera_spark.functions.keys import py_hash_prefix_key

            return py_hash_prefix_key(key)
        return key

    # --- snapshot machinery -------------------------------------------
    def _snapshot(self, table: str) -> int:
        if table not in self._snap:
            # windows in-flight (gap-masked) at snapshot time: their
            # ops sit BELOW our snapshot seq but were not visible to
            # our reads — if such a window commits before we validate,
            # a plain seq > snapshot check would miss it (lost update).
            # Remember them and treat any write-set op inside one as a
            # conflict at validation. Captured BEFORE the snapshot max
            # is computed: a gap whose record lands mid-snapshot is
            # then remembered (conservative — at worst a spurious
            # conflict), never missed.
            self._snap_gaps[table] = list(self._cat._masked_gaps(table))
            mx = self._cat.visible_max_seq(table)
            self._snap[table] = mx if mx is not None else 0
        return self._snap[table]

    def _batch(self, table: str):
        self._snapshot(table)  # pin the snapshot before the first write too
        if table not in self._batches:
            self._batches[table] = MutationBatch()
            self._write_rows[table] = set()
        return self._batches[table]

    # --- reads (snapshot-bounded, consistent across tables) -----------
    def read(self, table: str, row_key: str, cf: str, qualifier: str) -> bytes | None:
        # on maxversions>1 cfs several versions survive: the txn read
        # means the NEWEST one
        self._cat._read_gate(table)
        return _newest(Seeker(self._cat, table).get(
            self._hk(table, row_key), columns={cf: [qualifier]},
            now_us=self._now_us, snapshot_seq=self._snapshot(table),
        ))

    # --- writes -------------------------------------------------------
    def put(self, table: str, row_key: str, cf: str, qualifier: str, value, ts=None):
        row_key = self._hk(table, row_key)
        self._batch(table).put(row_key, cf, qualifier, value, ts=ts)
        self._write_rows[table].add(row_key)
        return self

    def delete_column(self, table: str, row_key: str, cf: str, qualifier: str, ts=None):
        row_key = self._hk(table, row_key)
        self._batch(table).delete_column(row_key, cf, qualifier, ts=ts)
        self._write_rows[table].add(row_key)
        return self

    def notify(self, table: str, row_key: str, cf: str, qualifier: str, ts: int = 0):
        """Transaction::Notify analog (include/tera/transaction.h:69-72):
        mark the observed column dirty in the same commit."""
        from tera_spark.streaming.observer import NOTIFY_CF

        row_key = self._hk(table, row_key)
        self._batch(table).put(row_key, NOTIFY_CF, f"{cf}+{qualifier}", b"1", ts=ts)
        self._write_rows[table].add(row_key)
        return self

    # --- commit -------------------------------------------------------
    def commit(self, *, cas: bool = False) -> dict[str, int]:
        """Validate then apply; returns cells appended per table.

        ``cas=True`` is the MULTI-WRITER mode — the full Percolator
        prewrite-validate-commit shape (global_txn.cc:578-720) mapped
        onto the catalog's row manifests: acquire a row-set manifest
        per touched table (the prewrite-lock step; an intersecting
        concurrent txn's manifest aborts us immediately — optimistic,
        deadlock-free), validate the write set against the snapshot
        UNDER those locks (no MANIFEST-AWARE committer — another cas
        txn or append_cas(rows=...) — can touch our rows between
        validation and apply; a writer without a manifest — a put, or
        append_cas without rows — racing the same rows keeps only
        optimistic validation), then commit each table through its
        reserved seq window. Disjoint-row transactions commit fully
        concurrently, with no wait and no retry. Default (cas=False) is the plain commit: validate, then
        one ``Catalog._commit_window`` per table."""
        if cas:
            return self._commit_cas()
        self._validate()
        applied: dict[str, int] = {}
        for table, batch in self._batches.items():
            if not len(batch):
                continue
            # the record's lo keeps a concurrent lower in-flight window
            # GAP-MASKED when this record raises the watermark past it
            self._cat._commit_window(
                table, len(batch), batch.op_kinds,
                lambda lo, b=batch: b.to_arrow(base_seq=lo, now_us=self._now_us),
            )
            applied[table] = len(batch)
        return applied

    def _validate(self) -> None:
        for table, rows in self._write_rows.items():
            if not rows:
                continue
            snap = self._snap[table]
            gaps = self._snap_gaps.get(table, [])
            # conflict = any now-visible op on a write-set row that our
            # snapshot reads could not see: above the snapshot seq, OR
            # inside a window that was still gap-masked (in-flight) at
            # snapshot time and has since committed. Visible = the
            # read_oplog masks; per-cell TTL does not hide a write.
            got = Seeker(self._cat, table).oplog_rows(sorted(rows)).values()
            seqs = (r[-1] for key_rows in got for r in key_rows)
            if any(s > snap or any(lo <= s <= hi for lo, hi in gaps) for s in seqs):
                raise GlobalTxnConflict(
                    f"table {table!r}: write-set row changed after seq {snap}"
                )

    def _commit_cas(self) -> dict[str, int]:
        import uuid

        txn_id = uuid.uuid4().hex[:16]
        holder = (
            self._cat.writer_id or self._cat._auto_writer_id
        ) + f"-txn{txn_id[:8]}"
        tokens: dict[str, dict] = {}
        marker = None
        try:
            # phase 1 — prewrite: one manifest per table, all-or-abort
            for table, batch in self._batches.items():
                if not len(batch):
                    continue
                tok = self._cat.begin_disjoint_commit(
                    table, len(batch), sorted(self._write_rows[table]), holder
                )
                if tok is None:
                    raise GlobalTxnConflict(
                        f"table {table!r}: write set locked by a concurrent "
                        "transaction"
                    )
                tokens[table] = tok
            # validate under the locks: committed state can no longer
            # gain ops on our rows before we apply
            self._validate()
            # phase 2a — stage every table's data: parquet lands but the
            # windows stay gap-masked (invisible) until their records
            for table, tok in tokens.items():
                self._cat.stage_disjoint_data(
                    tok, self._batches[table], now_us=self._now_us
                )
            # phase 2b — THE commit point (Percolator primary commit,
            # global_txn.cc:578-720): one atomic marker rename covering
            # every table's window. Crash before it -> recovery rolls
            # every staged window back (consistent abort); crash after
            # it -> recovery writes the missing records (consistent
            # commit, reference roll-forward global_txn.cc:337-501).
            # Single-table txns skip it: their record IS the point.
            if len(tokens) > 1:
                marker = self._cat.write_txn_marker(txn_id, tokens)
            # phase 3 — per-table commit records
            applied: dict[str, int] = {}
            for table, tok in list(tokens.items()):
                self._cat.record_disjoint_commit(tok)
                del tokens[table]
                applied[table] = len(self._batches[table])
            if marker is not None:
                marker.unlink(missing_ok=True)
            return applied
        finally:
            if marker is None:
                # before the commit point: consistent abort
                for tok in tokens.values():
                    self._cat.abort_disjoint_commit(tok)
            # after the commit point, still-held windows are NOT
            # aborted — recovery (any later writer, or any reader via
            # the heal path) rolls them forward from the marker

def new_global_transaction(catalog, **kw) -> GlobalTransaction:
    """Client::NewGlobalTransaction analog."""
    return GlobalTransaction(catalog, **kw)
