"""Mutation builders: the write path of the engine.

Mirrors the reference SDK's RowMutation / BatchMutation accumulation
(`include/tera/mutation.h:24-136`, `include/tera/batch_mutation.h`) as
a driver-side builder that flattens to op-log rows, and the server's
group-commit (`TabletWriter::Write`, src/io/tablet_writer.h:45-48) as
a single atomic op-log append — all cells of a batch land in one
commit, preserving per-row atomicity (SURVEY.md §3.2). A batch the SDK
commits (``to_arrow``) becomes one driver-written Parquet file and no
Spark job, the way a tera write is a WAL append and never a batch job;
``to_df`` gives the same rows as a DataFrame for Spark-side callers.

Timestamps: caller-supplied or assigned at flush (server-assigned ts,
tera_key.h:33). Sequence numbers run up from the base seq (a commit's
window, from the table's counter) so later writes win ties, like
LevelDB sequence numbers.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tera_spark.functions.codecs import py_encode_be_i64, py_encode_le_i64
from tera_spark.model import CELL_SCHEMA, CELL_TTL_SCHEMA, CellOp, arrow_table


class MutationBatch:
    """Accumulates row mutations; ``to_arrow``/``to_df`` flatten them to
    op-log rows for ``Catalog.append``."""

    def __init__(self, base_seq: int = 0):
        self._rows: list[tuple] = []
        self._base_seq = base_seq

    # --- RowMutation ops (mutation.h:37-77) ---------------------------
    def put(
        self,
        row_key: str,
        cf: str,
        qualifier: str,
        value: bytes | str,
        ts: int | None = None,
        *,
        ttl_s: int | None = None,
    ):
        """Cell put; ``ttl_s`` is the per-cell TTL of
        `RowMutation::Put(value, int32 ttl)` (mutation.h:30-33) — the
        cell expires ttl_s seconds after commit, independent of the
        column family's TTL."""
        self._emit(row_key, cf, qualifier, ts, CellOp.PUT, _b(value), ttl_s=ttl_s)
        return self

    def put_int64(self, row_key: str, cf: str, qualifier: str, v: int, ts: int | None = None):
        """Put(int64) — counter-compatible big-endian (table.h:66-68)."""
        self._emit(row_key, cf, qualifier, ts, CellOp.PUT, py_encode_be_i64(v))
        return self

    def put_le_int64(self, row_key: str, cf: str, qualifier: str, v: int, ts: int | None = None):
        """Native little-endian int64 put — the `putint64` family that
        merges with AddInt64 (teracli.md "Support Int64"; LE codec
        src/io/atomic_merge_strategy.cc:43)."""
        from tera_spark.functions.codecs import py_encode_le_i64

        self._emit(row_key, cf, qualifier, ts, CellOp.PUT, py_encode_le_i64(v))
        return self

    def add(self, row_key: str, cf: str, qualifier: str, delta: int, ts: int | None = None):
        """Atomic big-endian counter add (table.h:128-130)."""
        self._emit(row_key, cf, qualifier, ts, CellOp.ADD, py_encode_be_i64(delta))
        return self

    def add_int64(self, row_key: str, cf: str, qualifier: str, delta: int, ts: int | None = None):
        """Atomic native-endian add (table.h:69-71)."""
        self._emit(row_key, cf, qualifier, ts, CellOp.ADDINT64, py_encode_le_i64(delta))
        return self

    def append(self, row_key: str, cf: str, qualifier: str, value: bytes | str, ts: int | None = None):
        self._emit(row_key, cf, qualifier, ts, CellOp.APPEND, _b(value))
        return self

    def put_if_absent(self, row_key: str, cf: str, qualifier: str, value: bytes | str, ts: int | None = None):
        self._emit(row_key, cf, qualifier, ts, CellOp.PUT_IFABSENT, _b(value))
        return self

    def delete_row(self, row_key: str, ts: int | None = None):
        self._emit(row_key, "", "", ts, CellOp.DEL_ROW, None)
        return self

    def delete_family(self, row_key: str, cf: str, ts: int | None = None):
        self._emit(row_key, cf, "", ts, CellOp.DEL_FAMILY, None)
        return self

    def delete_column(self, row_key: str, cf: str, qualifier: str, ts: int | None = None):
        """DeleteColumns — all versions up to ts (mutation.h:58-60)."""
        self._emit(row_key, cf, qualifier, ts, CellOp.DEL_QUALIFIERS, None)
        return self

    def delete_version(self, row_key: str, cf: str, qualifier: str, ts: int | None = None):
        """DeleteColumn — the single newest version ≤ ts."""
        self._emit(row_key, cf, qualifier, ts, CellOp.DEL_QUALIFIER, None)
        return self

    # --- commit -------------------------------------------------------
    def _emit(self, row_key, cf, qualifier, ts, op, value, *, ttl_s=None):
        self._rows.append((row_key, cf, qualifier, ts, op, value, ttl_s))

    def map_row_keys(self, fn) -> "MutationBatch":
        """Rewrite every accumulated row key (the hash-distribution
        hook: TableImpl prefixes user keys transparently,
        src/sdk/table_impl.cc:98 — client.Table applies the same
        rewrite at the SDK boundary for <hash=on> tables)."""
        self._rows = [(fn(r[0]),) + tuple(r[1:]) for r in self._rows]
        return self

    def translated(self, fn) -> "MutationBatch":
        """Non-destructive form of map_row_keys: returns a NEW batch
        with rewritten keys, leaving the caller's batch untouched so a
        failed CAS / write can be retried with the same object without
        double-prefixing the row keys."""
        out = MutationBatch(self._base_seq)
        out._rows = [(fn(r[0]),) + tuple(r[1:]) for r in self._rows]
        return out

    def _stamped(self, now_us, ts_oracle, base_seq=None) -> tuple[list[tuple], T.StructType]:
        """The batch's op-log rows with ts, seq (from ``base_seq``, else
        the batch's own) and expiry assigned, and their schema.
        ``ts_oracle`` (functions.timeoracle.Timeoracle) assigns each
        unset-ts cell its own unique, strictly monotonic
        timestamp instead of one shared wall-clock microsecond — tera's
        timeoracle-stamped write path. Oracle ticks are 10000/ms (not
        µs); use one ts source consistently per table."""
        now = now_us if now_us is not None else int(time.time() * 1_000_000)
        base = self._base_seq if base_seq is None else base_seq

        def auto_ts() -> int:
            return ts_oracle.get_timestamp() if ts_oracle is not None else now

        with_ttl = any(ttl is not None for *_, ttl in self._rows)
        data = [
            (r, c, q, ts if ts is not None else auto_ts(), op, v, base + i)
            + ((now + ttl * 1_000_000 if ttl is not None else None,) if with_ttl else ())
            for i, (r, c, q, ts, op, v, ttl) in enumerate(self._rows)
        ]
        # plain batches keep the 7-column layout byte-identical; a batch
        # with any per-cell TTL writes the extended schema (mixed files
        # in one op-log read fine — see CELL_TTL_SCHEMA)
        return data, CELL_TTL_SCHEMA if with_ttl else CELL_SCHEMA

    def to_df(
        self, spark: SparkSession, *, now_us: int | None = None, ts_oracle=None
    ) -> DataFrame:
        """The batch as a DataFrame (stamping: see ``_stamped``)."""
        return spark.createDataFrame(*self._stamped(now_us, ts_oracle))

    def to_arrow(self, *, now_us: int | None = None, ts_oracle=None, base_seq: int | None = None):
        """The batch as one pyarrow table sorted by row_key, stamped like
        ``to_df`` (seqs from ``base_seq`` if given): what the catalog
        writes from the driver with ``pq.write_table``, no Spark job."""
        data, schema = self._stamped(now_us, ts_oracle, base_seq)
        return arrow_table(data, schema)

    def __len__(self) -> int:
        return len(self._rows)

    @property
    def op_kinds(self) -> list[int]:
        """Distinct op codes in the batch (known without a Spark job);
        commit records carry them so the catalog can prove a table is
        PUT-only and route reads through the fast fold."""
        return sorted({r[4] for r in self._rows})

    @property
    def row_keys(self) -> list[str]:
        """Distinct row keys touched (no Spark job) — the write set the
        commit CAS uses for its row-disjointness fast path."""
        return sorted({r[0] for r in self._rows})


def check_and_apply(
    cells: DataFrame,
    schema,
    row_key: str,
    cf: str,
    qualifier: str,
    expected: bytes | str,
    batch: MutationBatch,
    *,
    now_us: int | None = None,
) -> DataFrame | None:
    """CheckAndApply (table.h:140-142): return the mutation DataFrame to
    append if the current visible value equals ``expected``, else None.
    Single-writer snapshot isolation — the Spark-side analog of the
    reference's row-transaction conflict check."""
    from tera_spark.operators.scan import get

    cur = get(cells, schema, row_key, columns={cf: [qualifier]}, now_us=now_us).collect()
    if not cur or bytes(cur[0].value) != _b(expected):
        return None
    return batch.to_df(cells.sparkSession, now_us=now_us)


def _b(v: bytes | str) -> bytes:
    return v if isinstance(v, bytes) else str(v).encode()
