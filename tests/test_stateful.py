"""Stateful sessionizer: in-batch splits, state carry-over across
micro-batches and query restarts (checkpointed state store)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tera_spark.streaming.stateful import sessionize_stream

SCHEMA = "user_id long, ts timestamp"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="tera_state_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _run_once(spark, src, ckpt, qname):
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    rows: list = []
    q = (
        sessionize_stream(stream, gap_seconds=1800)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _eid: rows.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return rows


@pytest.mark.slow
def test_sessionize_split_multiuser_and_restart(spark, tmpdir):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def at(sec):
        return t0 + dt.timedelta(seconds=sec)

    src, ckpt = f"{tmpdir}/src", f"{tmpdir}/ckpt"
    us0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    # batch 1: user 7 has two bursts 4000s apart — the first closes
    # in-batch on the gap; users 0-2 each have one early burst whose
    # deadline falls behind the end-of-batch watermark (4010s - 10s),
    # so the cleanup pass closes them by event-time timeout
    batch1 = [(7, at(0)), (7, at(10)), (7, at(4000)), (7, at(4010))]
    for uid in range(3):
        batch1 += [(uid, at(0)), (uid, at(5))]
    _write(spark, src, batch1)
    rows = _run_once(spark, src, ckpt, "sess1")
    got = {(r.user_id, r.session_start, r.session_end, r.n_events) for r in rows}
    expect1 = {(7, us0, us0 + 10_000_000, 2)} | {
        (uid, us0, us0 + 5_000_000, 2) for uid in range(3)
    }
    assert got == expect1

    # batch 2 (same checkpoint — state survived the restart): a far-later
    # event closes user 7's open session on the gap
    _write(spark, src, [(7, at(9000))])
    rows2 = _run_once(spark, src, ckpt, "sess2")
    got2 = {(r.user_id, r.session_start, r.session_end, r.n_events) for r in rows2}
    assert got2 == {(7, us0 + 4_000_000_000, us0 + 4_010_000_000, 2)}
