"""Canonical data model: the op-log cell DataFrame.

The reference stores a table as a sorted LSM of *operations* keyed by
(row_key, column_family, qualifier, timestamp, type) — see
`src/leveldb/include/leveldb/tera_key.h:14-27` and
`src/leveldb/include/leveldb/raw_key_operator.h:17-22` in the
reference. We represent the same thing as a flat DataFrame; reads
merge operations into visible cells (operators/view.py), exactly as
the reference's compact strategy does at scan/compaction time.
"""

from __future__ import annotations

from pyspark.sql import types as T


class CellOp:
    """Operation type tags (reference: TeraKeyType, tera_key.h:14-27).

    Integer codes preserve the reference's LevelDB sort order so that
    entries with equal (row, cf, qualifier, ts) order identically:
    delete marks sort before values, values before atomic ops.
    """

    DEL_ROW = 1          # TKT_DEL          — masks whole row, ts-bounded
    DEL_FAMILY = 2       # TKT_DEL_COLUMN   — masks (row, cf), ts-bounded
    DEL_QUALIFIERS = 3   # TKT_DEL_QUALIFIERS — masks all versions of (row, cf, qu), ts-bounded
    DEL_QUALIFIER = 4    # TKT_DEL_QUALIFIER  — deletes the single next-newest version
    PUT = 5              # TKT_VALUE
    ADD = 7              # TKT_ADD          — int64 big-endian delta, merge-on-read
    PUT_IFABSENT = 8     # TKT_PUT_IFABSENT — oldest value wins
    APPEND = 9           # TKT_APPEND       — ts-ascending byte concat
    ADDINT64 = 10        # TKT_ADDINT64     — int64 little-endian (native) delta

    NAMES = {
        DEL_ROW: "DEL_ROW",
        DEL_FAMILY: "DEL_FAMILY",
        DEL_QUALIFIERS: "DEL_QUALIFIERS",
        DEL_QUALIFIER: "DEL_QUALIFIER",
        PUT: "PUT",
        ADD: "ADD",
        PUT_IFABSENT: "PUT_IFABSENT",
        APPEND: "APPEND",
        ADDINT64: "ADDINT64",
    }
    CODES = {v: k for k, v in NAMES.items()}

    ATOMIC = (ADD, ADDINT64, PUT_IFABSENT, APPEND)
    DELETES = (DEL_ROW, DEL_FAMILY, DEL_QUALIFIERS, DEL_QUALIFIER)


# Canonical op-log cell table. `op` is the integer code above; `seq` is
# a monotonically increasing write sequence (ties broken newest-first,
# mirroring LevelDB sequence numbers).
CELL_SCHEMA = T.StructType(
    [
        T.StructField("row_key", T.StringType(), False),
        T.StructField("cf", T.StringType(), True),
        T.StructField("qualifier", T.StringType(), True),
        T.StructField("ts", T.LongType(), False),
        T.StructField("op", T.IntegerType(), False),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)

# CELL_SCHEMA plus per-cell expiry — `RowMutation::Put(value, ttl)`
# (include/tera/mutation.h:30-33): a put may carry its own TTL on top
# of the column family's. NULL/0 = never expires. Old op-log files
# without the column read as NULL under this schema, so the two layouts
# coexist in one table.
CELL_TTL_SCHEMA = T.StructType(
    CELL_SCHEMA.fields + [T.StructField("expire_ts", T.LongType(), True)]
)

# Visible-cell view produced by operators/view.py.
VISIBLE_SCHEMA = T.StructType(
    [
        T.StructField("row_key", T.StringType(), False),
        T.StructField("cf", T.StringType(), True),
        T.StructField("qualifier", T.StringType(), True),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.BinaryType(), True),
    ]
)

# KV mode (reference: RawKey=GeneralKv/TTLKv, ttlkv_compact_strategy.cc).
KV_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("expire_ts", T.LongType(), True),  # NULL/0 = never expires
    ]
)

# Append-only KV op-log: LWW by seq; NULL value = delete tombstone
# (LevelDB Put/Delete in KV mode; ttl padded alongside the value,
# src/io/tablet_io.cc:1365-1369 → here a typed column instead).
KV_OPLOG_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("expire_ts", T.LongType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)

# Timestamps are int64 microseconds; kLatestTs = INT64_MAX
# (reference: src/types.h:37-38).
LATEST_TS = (1 << 63) - 1


def arrow_rows(rows: list[tuple], schema: T.StructType):
    """``rows`` (tuples in ``schema``'s column order) as one pyarrow
    table, built column by column — the driver-side twin of
    ``spark.createDataFrame(rows, schema)``. The arrow schema is derived
    from ``schema``, so this module stays the only schema definition."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    aschema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(aschema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, aschema)], schema=aschema
    )


def arrow_table(rows: list[tuple], schema: T.StructType):
    """``arrow_rows`` sorted by its key column (the first: row_key or
    key), for commits written with ``pq.write_table`` instead of a Spark
    job."""
    return arrow_rows(rows, schema).sort_by(schema.names[0])
