"""Streaming counter fold: running totals accumulate across
micro-batches AND query restarts (RocksDB-checkpointed state), and a
PUT base resets the fold exactly like the batch view. Every test runs
counter_fold END-TO-END."""

from __future__ import annotations

import shutil
import struct
import tempfile

import pytest

from tera_spark.model import CellOp
from tera_spark.streaming.counter_state import counter_fold, counter_ops


SCHEMA = "row_key string, cf string, qualifier string, ts long, op int, value binary, seq long"

ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="tera_counter_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _le(n: int) -> bytes:
    return struct.pack("<q", n)


def _cells(seq_vals):
    return [
        ("r1", "c", "hits", seq, op, _le(v), seq) for seq, op, v in seq_vals
    ]


def _run_once(spark, src, ckpt):
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    try:
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        rows: list = []
        q = (
            counter_fold(stream, encoding="le")
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _eid: rows.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {(r.row_key, r.cf, r.qualifier): r.total for r in rows}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def _write(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


@pytest.mark.slow
def test_counter_accumulates_and_put_resets(spark, tmpdir):
    src, ckpt = f"{tmpdir}/src", f"{tmpdir}/ckpt"

    # batch 1: deltas 5 + 7
    _write(spark, src, _cells([(1, CellOp.ADDINT64, 5), (2, CellOp.ADDINT64, 7)]))
    got = _run_once(spark, src, ckpt)
    assert got[("r1", "c", "hits")] == 12

    # batch 2 (new query run, same checkpoint): PUT(100) then +3 —
    # state survived the restart, and the base reset discards it
    _write(
        spark,
        src,
        _cells([(3, CellOp.PUT, 100), (4, CellOp.ADDINT64, 3)]),
    )
    got = _run_once(spark, src, ckpt)
    assert got[("r1", "c", "hits")] == 103

    # batch 3: plain delta on top of the reset base
    _write(spark, src, _cells([(5, CellOp.ADDINT64, -3)]))
    got = _run_once(spark, src, ckpt)
    assert got[("r1", "c", "hits")] == 100


def test_counter_multikey_isolation(spark, tmpdir):
    src, ckpt = f"{tmpdir}/src", f"{tmpdir}/ckpt"
    rows = [
        ("a", "c", "q1", 1, CellOp.ADDINT64, _le(1), 1),
        ("a", "c", "q2", 2, CellOp.ADDINT64, _le(10), 2),
        ("b", "c", "q1", 3, CellOp.ADDINT64, _le(100), 3),
    ]
    _write(spark, src, rows)
    got = _run_once(spark, src, ckpt)
    assert got == {
        ("a", "c", "q1"): 1,
        ("a", "c", "q2"): 10,
        ("b", "c", "q1"): 100,
    }


def test_counter_ops_projection_and_plan_builds(spark, tmpdir):
    """The JVM-side decode projection is exact (LE/BE codecs, PUT
    flagged as base, non-counter ops dropped), the pandas fold applies
    bases/deltas in seq order, and counter_fold's plan analyzes to the
    declared output schema."""
    import pandas as pd

    rows = _cells([(1, CellOp.ADDINT64, 5), (2, CellOp.PUT, 100)]) + [
        ("r1", "c", "hits", 9, CellOp.DEL_ROW, b"", 9)
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {r.seq: (r.is_base, r.delta) for r in counter_ops(df, encoding="le").collect()}
    assert got == {1: (False, 5), 2: (True, 100)}  # DEL_ROW dropped

    # pandas fold: PUT base resets mid-stream, later delta applies
    pdf = pd.DataFrame(
        {"seq": [3, 1, 2], "is_base": [False, False, True], "delta": [7, 5, 100]}
    )
    total = 0
    for is_base, delta in zip(*(pdf.sort_values("seq")[c] for c in ("is_base", "delta"))):
        total = int(delta) if is_base else total + int(delta)
    assert total == 107

    src = f"{tmpdir}/src"
    _write(spark, src, rows)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = counter_fold(stream, encoding="le")
    assert out.isStreaming
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("row_key", "string"), ("cf", "string"), ("qualifier", "string"), ("total", "bigint"),
    ]


def test_counter_fold_executes(spark, tmp_path):
    """Base + deltas fold across micro-batches, a later PUT resets the
    base within a batch (seq order), and checkpointed state survives
    the second drain."""
    from pyspark.sql import functions as F

    from tera_spark.model import CELL_SCHEMA, CellOp
    from tera_spark.functions.codecs import py_encode_le_i64

    src = tmp_path / "src"
    src.mkdir()

    def write(rows):
        spark.createDataFrame(rows, CELL_SCHEMA).write.mode("append").parquet(str(src))

    def cell(row, op, val, seq):
        return (row, "c", "cnt", seq, op, bytearray(py_encode_le_i64(val)), seq)

    write([cell("r1", CellOp.PUT, 100, 1), cell("r1", CellOp.ADDINT64, 5, 2),
           cell("r2", CellOp.ADDINT64, 7, 1)])

    out: dict[str, int] = {}

    def drain():
        stream = spark.readStream.schema(CELL_SCHEMA).parquet(str(src))
        q = (
            counter_fold(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _e: out.update({r.row_key: r.total for r in df.collect()}))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert out == {"r1": 105, "r2": 7}

    # batch 2: more deltas + a PUT reset on r1 (seq-ordered within batch)
    write([cell("r1", CellOp.ADDINT64, 1, 3), cell("r1", CellOp.PUT, 50, 4),
           cell("r1", CellOp.ADDINT64, 2, 5), cell("r2", CellOp.ADDINT64, 3, 2)])
    drain()
    assert out == {"r1": 52, "r2": 10}
