"""SDK-shaped facade: the reference's client ergonomics on Spark.

Mirrors the surface a tera user already knows — ``Client`` /
``Client.OpenTable`` (include/tera/client.h:36-40) and ``Table``'s
Put/Get/Scan/ApplyMutation/IncrementColumnValue/CheckAndApply
(include/tera/table.h:58-142; Python binding
src/sdk/python/TeraSdk.py Client, Table, RowMutation,
ScanDescriptor) — so reference call sites translate line for line.
Everything delegates to the catalog + operators; nothing here adds
semantics, only the SDK's shape:

- ``Table.get`` returns the RowReader::ToMap nesting
  (cf → qualifier → [(ts desc, value)]; include/tera/reader.h:52-55)
  as plain Python dicts. Every row-bounded read — gets, scans and
  both transaction kinds — goes through the seek path
  (operators/seek.py, the ``LowLevelSeek`` / ``LowLevelScan`` analog):
  footer-routed pyarrow reads and a Python fold on the client, no
  Spark job. As in tera, the caller picks no access path. ``scan_df``
  reads a range the op-log footers prove small the same way and hands
  it to Spark as a one-partition local relation; a larger range, or a
  ``<hash=on>`` table, is the Spark scan and fold. The Spark operators
  (``operators.scan``, ``batch_get``) remain the DataFrame forms and
  the reference the seek path is tested against.
- Writes auto-assign timestamps (server-assigned ts, tera_key.h:33)
  and take their seq window from the table's one counter (LevelDB
  sequence analog; a ``Table`` holds no seq state), so the later write
  wins ties, whichever handle made it. Each write is one driver-written
  op-log file plus its commit record — no Spark job, as a tera write is
  a WAL append (TabletWriter::Write); a CheckAndApply checks through
  the seek path first. Reads pass the table's gate, as ``view`` does.
- ``Table.scan`` streams ordered visible cells a page at a time, like
  ResultStream (include/tera/scan.h:26-67). A ``<hash=on>`` table's
  scan is the one Spark read left: user-key order over hash storage
  needs a full sort of ``scan_df``.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from tera_spark import plans
from tera_spark.catalog import Catalog
from tera_spark.model import VISIBLE_SCHEMA, arrow_rows
# check_and_apply: the DataFrame-level CheckAndApply, re-exported beside
# the SDK's seek-backed Table.check_and_apply
from tera_spark.operators.mutation import MutationBatch, check_and_apply  # noqa: F401
from tera_spark.operators.scan import ScanDescriptor, batch_get, scan
from tera_spark.operators.seek import Seeker
from tera_spark.operators.txn import SingleRowTransaction
from tera_spark.registry import TableSchema

_CELL = Row("row_key", "cf", "qualifier", "ts", "value")
_KV = Row("key", "value", "expire_ts")
# scan_df's cells on both routes: the visible cells, all nullable as
# the Spark fold of a Parquet read leaves them
_CELL_STRUCT = StructType([StructField(f.name, f.dataType) for f in VISIBLE_SCHEMA])
# op-log rows (footer counts) up to which a scan_df range is read on
# the driver: the crossover of scripts/probe_fold_construct.py's sweep
_LOCAL_SCAN_ROWS = 16_384


class Client:
    """Client (include/tera/client.h): table lifecycle + OpenTable."""

    def __init__(self, spark: SparkSession, root: str):
        self.catalog = Catalog(spark, root)

    # lifecycle passthroughs, SDK names
    def create_table(
        self, schema: TableSchema | str, *, hash_num: int | None = None
    ) -> TableSchema:
        """``hash_num`` is the CreateTable(desc, hash_num) overload
        (src/sdk/client_impl.cc:160-168): pre-split a HASH table into
        hash_num equal slices of the 64-bit hash space via
        GenerateHashDelimiters; invalid on a non-hash table (kBadParam,
        same refusal)."""
        if hash_num is None:
            return self.catalog.create_table(schema)
        from tera_spark.functions.keys import hash_delimiters
        from tera_spark.registry import parse_schema_string

        parsed = parse_schema_string(schema) if isinstance(schema, str) else schema
        if not parsed.hash_distribution:
            raise ValueError("Create non-hash table with hash_num is invalid")
        return self.catalog.create_table(
            parsed, delimiters=hash_delimiters(hash_num)
        )

    def disable_table(self, name: str) -> None:
        self.catalog.disable_table(name)

    def enable_table(self, name: str) -> None:
        self.catalog.enable_table(name)

    def delete_table(self, name: str) -> None:
        self.catalog.drop_table(name)

    def list_tables(self) -> list[str]:
        return self.catalog.list_tables()

    def is_table_exist(self, name: str) -> bool:
        return self.catalog.is_table_exist(name)

    def new_global_transaction(self):
        """NewGlobalTransaction (client.h:98): cross-row/cross-table
        snapshot-isolated RMW (see operators/txn.py GlobalTransaction
        for why optimistic validation replaces Percolator's 2PC)."""
        from tera_spark.operators.txn import GlobalTransaction

        return GlobalTransaction(self.catalog)

    def open_table(self, name: str, *, timeoracle=None) -> "Table | KvTable":
        """``timeoracle`` (functions.timeoracle.Timeoracle) makes
        auto-assigned cell timestamps unique and strictly monotonic —
        the reference's timeoracle-stamped write path."""
        if not self.catalog.is_table_exist(name):
            raise ValueError(f"no such table: {name}")
        if self.catalog.get_schema(name).kv_mode:
            return KvTable(self.catalog, name)
        return Table(self.catalog, name, timeoracle=timeoracle)


class RowMutation:
    """TeraSdk.RowMutation-compatible builder bound to one row
    (src/sdk/python/TeraSdk.py:293-440) — method names kept CamelCase
    so reference call sites (`mu = t.NewRowMutation(row); mu.Put(cf,
    qu, v); t.ApplyMutation(mu)`) translate unchanged. Accumulates on
    a MutationBatch; nothing lands until Table.ApplyMutation.

    SetCallback/GetStatus/Destroy are the async-RPC machinery of the
    ctypes binding; commits here are synchronous (ApplyMutation
    returns after the storage append), so they are intentionally
    absent."""

    def __init__(self, row_key: str):
        self._row_key = row_key
        self._batch = MutationBatch()

    def Put(self, cf: str, qu: str, value) -> "RowMutation":
        self._batch.put(self._row_key, cf, qu, value)
        return self

    def PutWithTimestamp(self, cf: str, qu: str, timestamp: int, value) -> "RowMutation":
        self._batch.put(self._row_key, cf, qu, value, ts=timestamp)
        return self

    def PutInt64(self, cf: str, qu: str, value: int) -> "RowMutation":
        """Native-endian int64 put (merges with AddInt64, teracli
        'Support Int64')."""
        self._batch.put_le_int64(self._row_key, cf, qu, value)
        return self

    def PutKV(self, value, ttl: int) -> "RowMutation":
        raise TypeError("PutKV targets kv-mode tables: use KvTable.put(key, value, ttl_s=...)")

    def DeleteColumnAllVersions(self, cf: str, qu: str) -> "RowMutation":
        self._batch.delete_column(self._row_key, cf, qu)
        return self

    def DeleteColumnWithVersion(self, cf: str, qu: str, ts: int) -> "RowMutation":
        self._batch.delete_version(self._row_key, cf, qu, ts=ts)
        return self

    def DeleteFamily(self, cf: str) -> "RowMutation":
        self._batch.delete_family(self._row_key, cf)
        return self

    def DeleteRow(self) -> "RowMutation":
        self._batch.delete_row(self._row_key)
        return self

    # Deprecated in the reference; kept for call-site compatibility
    def DeleteColumn(self, cf: str, qu: str) -> "RowMutation":
        self._batch.delete_column(self._row_key, cf, qu)
        return self

    def RowKey(self) -> str:
        return self._row_key


class Table:
    """Table (include/tera/table.h): reads, writes, atomics, txn.

    Hash-distributed tables (``<hash=on>``; TableDescriptor hash mode,
    murmur-prefix rewrite src/sdk/table_impl.cc:98) are TRANSPARENT at
    this layer, as in the reference SDK: every write and point read
    translates user keys to prefixed form (driver-side xxhash64 twin,
    functions/keys.py, bit-equal to the JVM expression), and outputs
    strip the prefix back off. Scan range bounds re-apply on the USER
    key after the strip — storage order is hash order, so a user-key
    range cannot prune files and costs a full scan: the documented
    hash-table trade-off (the reference likewise scans hash tables in
    distribution order, table_impl.cc:1416-1418)."""

    def __init__(self, catalog: Catalog, name: str, *, timeoracle=None):
        self._cat = catalog
        self.name = name
        self._seeker = Seeker(catalog, name)
        schema = catalog.get_schema(name)
        self._hashed = schema.hash_distribution
        # opt-in unique-monotonic auto timestamps (timeoracle.h analog).
        # Oracle ticks are (wall_ms - 2017 base) * 10000 — a LOGICAL
        # basis, not epoch microseconds — while cf-level TTL expiry and
        # ScanDescriptor ts_range interpret cell ts as epoch µs, so an
        # oracle-stamped cell would sit decades in the future and never
        # expire. Refuse the combination instead of silently mixing
        # bases (same rule for µs ts_range scans: one ts source per
        # table — see functions/timeoracle.py).
        if timeoracle is not None:
            self._refuse_oracle_ttl_mix(schema)
        self._oracle = timeoracle

    def _refuse_oracle_ttl_mix(self, schema) -> None:
        if any(cf.ttl > 0 for cf in schema.column_families.values()):
            raise ValueError(
                f"table {self.name!r}: timeoracle timestamps (logical "
                "10000/ms ticks) are incompatible with cf-level ttl>0 "
                "(epoch-µs expiry) — use wall-clock timestamps or ttl=0"
            )

    # -- hash-distribution key translation ----------------------------
    def _hk(self, key: str) -> str:
        from tera_spark.functions.keys import py_hash_prefix_key

        return py_hash_prefix_key(key) if self._hashed else key

    def _strip(self, key: str) -> str:
        from tera_spark.functions.keys import py_strip_hash_prefix

        return py_strip_hash_prefix(key) if self._hashed else key

    def _strip_df(self, df: DataFrame) -> DataFrame:
        from tera_spark.functions.keys import with_plain_row_key

        return with_plain_row_key(df) if self._hashed else df

    def _hash_desc(self, desc: ScanDescriptor | None) -> ScanDescriptor | None:
        """On hash tables the stored order is hash order, so user-key
        range bounds can't prune storage (the reference routes its
        hashed start key and otherwise scans in distribution order,
        table_impl.cc:1416-1418). Bounds are lifted out of the pushed
        descriptor here and re-applied on the USER key after the
        prefix strips off (_user_range) — callers get exactly the
        range they asked for, at full-scan cost: the documented
        hash-table trade-off."""
        if not self._hashed or desc is None or (
            desc.start is None and desc.end is None and desc.number_limit is None
        ):
            return desc
        import dataclasses

        # number_limit too: in hash-storage order it would keep the
        # first HASHED keys; _user_range re-applies it in user-key order
        return dataclasses.replace(desc, start=None, end=None, number_limit=None)

    def _user_range(self, df: DataFrame, desc: ScanDescriptor | None) -> DataFrame:
        if not self._hashed or desc is None:
            return df
        if desc.start is not None:
            df = df.filter(F.col("row_key") >= desc.start)
        if desc.end is not None:
            df = df.filter(F.col("row_key") < desc.end)
        # re-apply the limit _hash_desc lifted, in user-key scan order:
        # the FIRST N cells, not an arbitrary N (plans as
        # TakeOrderedAndProject: per-partition top-k, no global sort)
        if desc.number_limit is not None:
            df = df.orderBy("row_key", "cf", "qualifier", F.desc("ts")).limit(
                desc.number_limit
            )
        return df

    # -- writes (table.h:58-77, 128-142) ------------------------------
    def new_row_mutation(self, row_key: str) -> RowMutation:
        """TeraSdk Table.NewRowMutation: a per-row mutation builder."""
        return RowMutation(row_key)

    NewRowMutation = new_row_mutation  # TeraSdk spelling

    def apply_mutation(self, batch: MutationBatch | RowMutation) -> None:
        if isinstance(batch, RowMutation):
            batch = batch._batch
        if self._hashed:
            # translate into a COPY: retrying the same caller batch
            # must not double-prefix its row keys
            batch = batch.translated(self._hk)
        self._commit(batch)

    def _commit(self, batch: MutationBatch, *, now_us: int | None = None) -> None:
        """Commit a storage-keyed batch from the driver: one pyarrow-
        written op-log file and its commit record, no Spark job."""
        if self._oracle is not None:
            # the construction-time guard can be bypassed by a later
            # update_schema adding cf ttl>0 to an open oracle-stamped
            # handle; re-check against the CURRENT schema on every
            # write (stat-guarded memo: sees any schema.json change
            # without per-mutation read+parse)
            self._refuse_oracle_ttl_mix(self._cat.current_schema(self.name))
        self._cat._commit_window(
            self.name, len(batch), batch.op_kinds,
            lambda lo: batch.to_arrow(base_seq=lo, now_us=now_us, ts_oracle=self._oracle),
        )

    ApplyMutation = apply_mutation  # TeraSdk spelling

    def put(
        self,
        row_key: str,
        cf: str,
        qualifier: str,
        value,
        ts: int | None = None,
        *,
        ttl_s: int | None = None,
    ) -> None:
        """Cell put; ``ttl_s`` = per-cell TTL (Put(value, ttl),
        mutation.h:30-33)."""
        self.apply_mutation(
            MutationBatch().put(row_key, cf, qualifier, value, ts=ts, ttl_s=ttl_s)
        )

    def delete_row(self, row_key: str, ts: int | None = None) -> None:
        self.apply_mutation(MutationBatch().delete_row(row_key, ts=ts))

    def increment_column_value(
        self, row_key: str, cf: str, qualifier: str, delta: int, ts: int | None = None
    ) -> None:
        """IncrementColumnValue (table.h:128-130): big-endian Add."""
        self.apply_mutation(MutationBatch().add(row_key, cf, qualifier, delta, ts=ts))

    def add_int64(
        self, row_key: str, cf: str, qualifier: str, delta: int, ts: int | None = None
    ) -> None:
        self.apply_mutation(MutationBatch().add_int64(row_key, cf, qualifier, delta, ts=ts))

    def append(self, row_key: str, cf: str, qualifier: str, value, ts: int | None = None) -> None:
        self.apply_mutation(MutationBatch().append(row_key, cf, qualifier, value, ts=ts))

    def put_if_absent(
        self, row_key: str, cf: str, qualifier: str, value, ts: int | None = None
    ) -> None:
        self.apply_mutation(MutationBatch().put_if_absent(row_key, cf, qualifier, value, ts=ts))

    def check_and_apply(
        self, row_key: str, cf: str, qualifier: str, expected, batch: MutationBatch
    ) -> bool:
        """CheckAndApply (table.h:140-142). True iff the mutation landed.

        The check reads the cell's newest visible version through the
        seek path (same rollback, watermark, gap and TTL masks as a
        Spark read; tests/test_seek.py pins the equality), and a
        matching batch commits like ``apply_mutation`` — no Spark job
        either way."""
        if self._hashed:
            # copy, not in-place: a failed CAS is retried with the same
            # batch object, which must keep its user-space keys
            batch = batch.translated(self._hk)
            row_key = self._hk(row_key)
        if not isinstance(expected, bytes):
            expected = str(expected).encode()
        now = int(time.time() * 1_000_000)
        cur = self._seeker.get(row_key, columns={cf: [qualifier]}, now_us=now)
        if not cur or cur[0][4] != expected:
            return False
        self._commit(batch, now_us=now)
        return True

    # -- reads (table.h:85-98, reader.h) ------------------------------
    def get(
        self,
        row_key: str,
        *,
        columns: dict[str, list[str]] | None = None,
        max_versions: int | None = None,
        ts_range: tuple[int, int] | None = None,
        now_us: int | None = None,
        seek: bool = True,
    ) -> dict[str, dict[str, list[tuple[int, bytes]]]]:
        """Point read, nested RowReader::ToMap-style:
        {cf: {qualifier: [(ts, value) newest-first]}}.

        Served by the seek path: no Spark job, ~ms latency.
        tests/test_seek.py pins it equal to ``operators.scan.get``,
        the DataFrame form of this read. ``seek`` is accepted for older
        call sites and ignored: there is one read path."""
        self._cat._read_gate(self.name)
        cells = self._seeker.get(
            self._hk(row_key),
            columns=columns,
            max_versions=max_versions,
            ts_range=ts_range,
            now_us=now_us,
        )
        out: dict[str, dict[str, list[tuple[int, bytes]]]] = {}
        for _, cf, qu, ts, value in cells:
            out.setdefault(cf, {}).setdefault(qu, []).append((ts, bytes(value)))
        return out

    def batch_get(self, row_keys: list[str], *, now_us: int | None = None) -> DataFrame:
        self._cat._read_gate(self.name)
        return self._strip_df(
            batch_get(
                self._cat.read_oplog(self.name),
                self._cat.current_schema(self.name),
                [self._hk(k) for k in row_keys],
                now_us=now_us,
                op_kinds=self._cat._op_kinds_union(self.name),
            )
        )

    def multi_get(
        self, row_keys: list[str], *, now_us: int | None = None
    ) -> dict[str, list[tuple]]:
        """Batched point reads through the seek path, on the client
        (``batch_get`` is the distributed DataFrame form). Returns
        row_key → [(row_key, cf, qualifier, ts, value)], newest-first
        per column; keys with no visible cell are absent."""
        self._cat._read_gate(self.name)
        got = self._seeker.multi_get([self._hk(k) for k in row_keys], now_us=now_us)
        return {
            self._strip(k): [(self._strip(c[0]),) + tuple(c[1:]) for c in cells]
            for k, cells in got.items()
        }

    def scan(
        self,
        desc: ScanDescriptor | None = None,
        *,
        now_us: int | None = None,
        snapshot_seq: int | None = None,
    ) -> Iterator:
        """Ordered cell iteration (ResultStream). Yields Rows with
        (row_key, cf, qualifier, ts, value) in scan order: row_key,
        cf, qualifier asc, ts desc; ``number_limit`` keeps the first N.
        ``snapshot_seq`` reads as of a write sequence
        (ScanDescriptor::SetSnapshot, scan.h:121). The seek path's paged
        scan serves it, except on a hash table (a sorted ``scan_df``)."""
        desc = desc or ScanDescriptor()
        if self._hashed:
            return (
                self.scan_df(desc, now_us=now_us, snapshot_seq=snapshot_seq)
                .orderBy("row_key", "cf", "qualifier", F.desc("ts"))
                .toLocalIterator()
            )
        self._cat._read_gate(self.name, "scan")
        return (_CELL(*c) for c in self._scan_cells(desc, now_us, snapshot_seq))

    def _scan_cells(
        self, desc: ScanDescriptor, now_us: int | None, snapshot_seq: int | None
    ) -> Iterator[tuple]:
        """``desc``'s cells by the seek path's paged scan."""
        ts = (desc.ts_start, desc.ts_end)
        return self._seeker.scan_range(
            desc.start, desc.end, columns=desc.columns, column_families=desc.column_families,
            max_versions=desc.max_versions, max_qualifiers=desc.max_qualifiers,
            ts_range=ts if ts != (None, None) else None, number_limit=desc.number_limit,
            now_us=now_us, snapshot_seq=snapshot_seq,
        )

    def scan_df(
        self,
        desc: ScanDescriptor | None = None,
        *,
        now_us: int | None = None,
        snapshot_seq: int | None = None,
    ) -> DataFrame:
        """The analytics-native form: visible cells as a DataFrame,
        folded with the schema the seek path uses.

        A range whose routed op-log row groups hold at most
        ``_LOCAL_SCAN_ROWS`` rows and less than ``plans.SCALE_GATE_BYTES``
        uncompressed bytes (footer figures: exact upper bounds) is read
        now, by the seek path's scan, and returned as a one-partition
        local relation (an action on it runs one Spark job). Any
        other range, and every ``<hash=on>`` table (a user-key range
        cannot prune hash storage), is the lazy Spark scan and fold.
        Both routes return the same cells and schema; the catalog's
        ``scan_df_routes`` counts them."""
        self._cat._read_gate(self.name, "scan")
        desc = desc or ScanDescriptor()
        if not self._hashed:
            rows, size = self._seeker.range_size(desc.start, desc.end)
            if rows <= _LOCAL_SCAN_ROWS and size < plans.SCALE_GATE_BYTES:
                self._cat.count_scan_df_route("local")
                cells = list(self._scan_cells(desc, now_us, snapshot_seq))
                return self._cat.spark.createDataFrame(
                    arrow_rows(cells, _CELL_STRUCT), schema=_CELL_STRUCT
                ).coalesce(1)
        self._cat.count_scan_df_route("spark")
        return self._user_range(
            self._strip_df(
                scan(
                    self._cat.read_oplog(self.name),
                    self._seeker.schema,
                    self._hash_desc(desc),
                    now_us=now_us,
                    snapshot_seq=snapshot_seq,
                    op_kinds=self._cat._op_kinds_union(self.name),
                )
            ),
            desc,
        )

    # -- transactions (table.h:102-104) -------------------------------
    def create_index(self, cf: str, qualifier: str) -> str:
        """Materialize + register a secondary index over (cf, qualifier)
        (catalog.create_index); rebuildable by calling again."""
        return self._cat.create_index(self.name, cf, qualifier)

    def lookup_by_value(self, cf: str, qualifier: str, value) -> DataFrame:
        """Value lookup routed through the registered index when one
        exists (stale hits re-verified); folded-scan fallback otherwise."""
        return self._cat.lookup_by_value(self.name, cf, qualifier, value)

    def refresh_index(self, cf: str, qualifier: str) -> dict:
        """Incrementally refresh the (cf, qualifier) index from the
        table's changefeed — change-set-bounded maintenance
        (catalog.refresh_index)."""
        return self._cat.refresh_index(self.name, cf, qualifier)

    def start_row_transaction(self, row_key: str) -> SingleRowTransaction:
        """StartRowTransaction (table.h:102): snapshot, reads and the
        conflict check of the row go through the seek path."""
        self._cat._read_gate(self.name)
        return SingleRowTransaction(self._seeker, self._hk(row_key))

    def commit_row_transaction(self, txn: SingleRowTransaction) -> None:
        """Conflict-check the row, then commit the txn's batch like
        ``apply_mutation``: a window from the table's counter (above
        any rolled-back window and every other writer's) and a file."""
        txn.check()
        self._commit(txn.batch)

    # -- admin sugar (table.h:131-133) --------------------------------
    def tablet_info(self) -> list[dict]:
        return self._cat.tablet_info(self.name)

    def start_end_keys(self) -> list[tuple[str, str]]:
        return [(t["start_key"], t["end_key"]) for t in self.tablet_info()]

    def diff(self, seq_start: int, seq_end: int | None = None) -> DataFrame:
        """Changefeed: INSERT/UPDATE/DELETE delta set between two write
        sequences (Catalog.diff / operators.view.changes_between)."""
        return self._cat.diff(self.name, seq_start, seq_end)


class KvTable:
    """KV-mode table (RawKey=GeneralKv/TTLKv): the reference serves KV
    tables through the same Table API with (key, value) puts
    (doc/en/teracli.md kv schema; TeraSdk Table.Put/Get 2-ary forms)."""

    def __init__(self, catalog: Catalog, name: str):
        self._cat = catalog
        self.name = name
        self._seeker = Seeker(catalog, name)

    def put(self, key: str, value, *, ttl_s: int | None = None) -> None:
        self._cat.kv_put(self.name, key, value, ttl_s=ttl_s)

    def get(self, key: str, *, now_us: int | None = None) -> bytes | None:
        """Point read through the seek path (``Seeker.get_kv``); the
        Spark twin is ``operators.view.kv_current_view``."""
        self._cat._read_gate(self.name)
        v = self._seeker.get_kv(key, now_us=now_us)
        return bytes(v) if v is not None else None

    def delete(self, key: str) -> None:
        self._cat.kv_delete(self.name, key)

    def scan(
        self, start: str | None = None, end: str | None = None, *, now_us: int | None = None
    ) -> Iterator:
        """Visible keys of [start, end) in key order, Rows (key, value,
        expire_ts), by the seek path (Spark twin: ``kv_current_view``)."""
        self._cat._read_gate(self.name, "scan")
        return (_KV(*kv) for kv in self._seeker.scan_range(start, end, now_us=now_us))
