"""Streaming atomic-counter fold via applyInPandasWithState.

Tera's counters are merge-on-read: ADD/ADDINT64 deltas accumulate in
the LSM and fold into a value at scan/compaction
(src/io/atomic_merge_strategy.cc:59-86), with a later PUT resetting
the merge base (src/io/default_compact_strategy.cc:182-185). The batch
engine reproduces that fold in operators/view.py; this module is the
*incremental* form: op-log cells arrive as a stream and each counter's
running total lives in keyed state, so reads see an always-current
value without rescanning the log — the streaming analog of a compacted
counter cell.

``counter_fold`` is the one entry. It runs on the Spark 3.4+
``applyInPandasWithState`` API, which needs no extra runtime; the
RocksDB state store (session.get_spark(rocksdb_state=True)) carries
10^8-key counter spaces across restarts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tera_spark.functions.codecs import be_i64_decode, le_i64_decode
from tera_spark.model import CellOp

OUTPUT_SCHEMA = "row_key string, cf string, qualifier string, total bigint"


def counter_ops(cells: DataFrame, *, encoding: str = "le") -> DataFrame:
    """JVM-side projection feeding the stateful operator: keep only
    counter-relevant ops, decode the int64 payload, flag PUT bases.
    Batch-testable on its own (and shared with any batch replayer)."""
    decode = le_i64_decode if encoding == "le" else be_i64_decode
    return cells.filter(F.col("op").isin(CellOp.PUT, CellOp.ADD, CellOp.ADDINT64)).select(
        "row_key",
        "cf",
        "qualifier",
        "seq",
        (F.col("op") == CellOp.PUT).alias("is_base"),
        decode(F.col("value")).alias("delta"),
    )


def counter_fold(cells: DataFrame, *, encoding: str = "le") -> DataFrame:
    """Fold a streaming op-log into running counter totals.

    ``cells``: streaming DataFrame with the canonical op-log columns
    (row_key, cf, qualifier, ts, op, value, seq). PUT sets the base,
    ADD/ADDINT64 add deltas in seq order; everything else is ignored.
    State is the running total per (row_key, cf, qualifier).
    ``encoding`` picks the int64 codec for values ("le" native / "be"
    big-endian — a counter column uses one, mirroring the two
    reference codecs).

    Decoding happens JVM-side before the stateful operator: Python
    only ever sees (seq, is_base, delta) longs, keeping the Arrow
    batches narrow. Keys hash-partition the state; each micro-batch
    touches only keys present in the batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ops = counter_ops(cells, encoding=encoding)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        total = int(state.get[0]) if state.exists else 0
        pdf = pd.concat(list(pdfs))
        if len(pdf):
            pdf = pdf.sort_values("seq")
            for is_base, delta in zip(pdf["is_base"], pdf["delta"]):
                total = int(delta) if is_base else total + int(delta)
        state.update((total,))
        yield pd.DataFrame(
            {
                "row_key": [key[0]],
                "cf": [key[1]],
                "qualifier": [key[2]],
                "total": [total],
            }
        )

    return ops.groupBy("row_key", "cf", "qualifier").applyInPandasWithState(
        fn,
        OUTPUT_SCHEMA,
        "total bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )
