"""Observer/notify pipeline and windowed streaming tests (memory sink
+ availableNow triggers drive the stream synchronously)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tera_spark.model import CELL_SCHEMA, CellOp
from tera_spark.operators.mutation import MutationBatch
from tera_spark.sources.tables import load
from tera_spark.streaming.observer import NOTIFY_CF, ObserverPipeline, notify_cells, windowed_event_stream


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="tera_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_batch_with_notify(spark, path, batch: MutationBatch, cf, qu):
    df = batch.to_df(spark)
    data = df.filter(F.col("cf") == cf)
    marks = notify_cells(cf, qu, data)
    df.unionByName(marks).write.mode("append").parquet(path)


def test_observer_fires_once_per_dirty_cell(spark, tmpdir):
    oplog = f"{tmpdir}/oplog"
    ckpt = f"{tmpdir}/ckpt"
    seen: list[tuple] = []

    b1 = MutationBatch()
    b1.put("r1", "Data", "qu0", "v1", ts=100)
    b1.put("r2", "Data", "qu0", "v2", ts=101)
    _write_batch_with_notify(spark, oplog, b1, "Data", "qu0")

    pipe = ObserverPipeline(spark, oplog, ckpt)
    pipe.observe(
        "collector", "Data", "qu0",
        lambda df, epoch: seen.extend((r.row_key, r.ts) for r in df.collect()),
    )
    q = pipe.start(trigger_once=True)
    q.awaitTermination(120)
    assert sorted(seen) == [("r1", 100), ("r2", 101)]

    # second batch: only NEW marks fire (ack = checkpoint offset)
    seen.clear()
    b2 = MutationBatch(base_seq=10)
    b2.put("r3", "Data", "qu0", "v3", ts=200)
    _write_batch_with_notify(spark, oplog, b2, "Data", "qu0")
    q2 = pipe.start(trigger_once=True)
    q2.awaitTermination(120)
    assert sorted(seen) == [("r3", 200)]


def test_observer_dedups_duplicate_marks(spark, tmpdir):
    oplog = f"{tmpdir}/oplog"
    ckpt = f"{tmpdir}/ckpt"
    seen: list[tuple] = []

    b = MutationBatch()
    b.put("r1", "Data", "qu0", "v1", ts=100)
    df = b.to_df(spark)
    marks = notify_cells("Data", "qu0", df)
    # duplicate marker rows in one batch (retry simulation)
    df.unionByName(marks).unionByName(marks).write.mode("append").parquet(oplog)

    pipe = ObserverPipeline(spark, oplog, ckpt).observe(
        "c", "Data", "qu0", lambda d, e: seen.extend(r.row_key for r in d.collect())
    )
    q = pipe.start(trigger_once=True)
    q.awaitTermination(120)
    assert seen == ["r1"]  # exactly once despite duplicate marks


def test_windowed_event_stream_matches_batch(spark, tmpdir):
    ev = load(spark, "/root/testdata/sf0.001", "events").select("ts", "event_type", "value")
    # batch ground truth
    expect = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )
    exp = {(r.win_start, r.event_type): r.n for r in expect.collect()}

    src = f"{tmpdir}/events"
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = windowed_event_stream(stream, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.win_start, r.event_type): r.n
        for r in spark.sql("select * from win_out").collect()
    }
    assert got == exp


@pytest.mark.slow
def test_attribution_join_stream_matches_batch(spark, tmpdir):
    from tera_spark.streaming.observer import attribution_join_stream

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = f"{tmpdir}/events_attr"
    ev.write.parquet(src)

    # batch ground truth: purchases joined to same-user clicks in the prior 10 min
    c = ev.filter(F.col("event_type") == "click")
    p = ev.filter(F.col("event_type") == "purchase")
    expect = {
        (r.purchase_id, r.click_id)
        for r in p.alias("p")
        .join(
            c.alias("c"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("c.ts") <= F.col("p.ts"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 10 minutes")),
        )
        .select(F.col("p.event_id").alias("purchase_id"), F.col("c.event_id").alias("click_id"))
        .collect()
    }
    assert expect  # fixture actually exercises the join

    stream = spark.readStream.schema(ev.schema).parquet(src)
    joined = attribution_join_stream(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("attr_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("select * from attr_out").collect()
    }
    assert got == expect


def test_deduped_event_stream_collapses_retries(spark, tmpdir):
    from tera_spark.streaming.observer import deduped_event_stream

    ev = load(spark, "/root/testdata/sf0.001", "events").select("event_id", "ts", "value").limit(50)
    # retries: same event_id again, 1s later (different event time)
    retries = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 second"))
    src = f"{tmpdir}/events_dupes"
    ev.unionByName(retries).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        deduped_event_stream(stream, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from dedup_out").collect()
    assert len(rows) == 50
    assert len({r.event_id for r in rows}) == 50


@pytest.mark.slow
def test_observer_maintains_secondary_index(spark, tmpdir):
    """The reference's canonical observer workload: incremental
    secondary-index maintenance (TPC-C keeps t_*_index tables this way,
    src/benchmark/tpcc/; observers react to dirty cells and write the
    index table inside the callback)."""
    from tera_spark.catalog import Catalog
    from tera_spark.operators.scan import get as tget

    cat = Catalog(spark, f"{tmpdir}/idx_cat")
    cat.create_table("users { info }")
    cat.create_table("email_index { idx }")

    def write_users(batch):
        marks = notify_cells("info", "email", batch.to_df(spark))
        cat.append("users", batch.to_df(spark).unionByName(marks))

    def maintain_index(marks_df, epoch):
        rows = [r.row_key for r in marks_df.select("row_key").distinct().collect()]
        vis = (
            cat.view("users")
            .filter((F.col("cf") == "info") & (F.col("qualifier") == "email"))
            .filter(F.col("row_key").isin(rows))
            .collect()
        )
        b = MutationBatch(base_seq=(epoch + 1) * 1000)
        for r in vis:
            b.put(bytes(r.value).decode(), "idx", r.row_key, "1", ts=r.ts)
        if len(b):
            cat.append("email_index", b.to_df(spark))

    b1 = MutationBatch(base_seq=1)
    b1.put("u1", "info", "email", "a@x", ts=100)
    b1.put("u2", "info", "email", "b@x", ts=101)
    write_users(b1)

    pipe = ObserverPipeline(spark, cat.oplog_path("users"), f"{tmpdir}/idx_ckpt")
    pipe.observe("indexer", "info", "email", maintain_index)
    q = pipe.start(trigger_once=True)
    q.awaitTermination(180)

    idx = tget(cat.read_oplog("email_index"), cat.get_schema("email_index"), "a@x")
    assert [r.qualifier for r in idx.collect()] == ["u1"]

    # incremental: a second commit only indexes the new row
    b2 = MutationBatch(base_seq=10)
    b2.put("u3", "info", "email", "d@x", ts=200)
    write_users(b2)
    q2 = pipe.start(trigger_once=True)
    q2.awaitTermination(180)

    all_idx = cat.read_oplog("email_index").filter(F.col("cf") == "idx").collect()
    assert len(all_idx) == 3  # would be 5 if u1/u2 re-fired
    d = tget(cat.read_oplog("email_index"), cat.get_schema("email_index"), "d@x")
    assert [r.qualifier for r in d.collect()] == ["u3"]


def test_ohlc_stream_matches_batch(spark, tmpdir):
    from tera_spark.streaming.observer import ohlc_stream

    ev = load(spark, "/root/testdata/sf0.001", "events").select("ts", "event_type", "value")
    expect = (
        ev.groupBy(F.window(F.col("ts").cast("timestamp"), "15 minutes").alias("w"), "event_type")
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "open", "high", "low", "close", "n")
    )
    exp = {(r.win_start, r.event_type): (r.open, r.high, r.low, r.close, r.n) for r in expect.collect()}

    src = f"{tmpdir}/events_ohlc"
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        ohlc_stream(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("ohlc_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.win_start, r.event_type): (r.open, r.high, r.low, r.close, r.n)
        for r in spark.sql("select * from ohlc_out").collect()
    }
    assert got == exp


def test_scan_hooks_wrap_each_round(spark, tmpdir):
    """ScanHook::Before/After parity (include/observer/scanner.h:28-42):
    hooks fire once per micro-batch round with the round's row count;
    the engine-level listener independently meters the same rounds."""
    from tera_spark.streaming.hooks import RecordingScanHook, ScanMetricsListener

    oplog = f"{tmpdir}/oplog"
    ckpt = f"{tmpdir}/ckpt"
    seen: list[tuple] = []

    b1 = MutationBatch()
    b1.put("r1", "Data", "qu0", "v1", ts=100)
    b1.put("r2", "Data", "qu0", "v2", ts=101)
    _write_batch_with_notify(spark, oplog, b1, "Data", "qu0")

    hook = RecordingScanHook()
    listener = ScanMetricsListener()
    spark.streams.addListener(listener)
    try:
        pipe = ObserverPipeline(spark, oplog, ckpt)
        pipe.observe(
            "collector", "Data", "qu0",
            lambda df, epoch: seen.extend(r.row_key for r in df.collect()),
        ).add_scan_hook(hook)
        q = pipe.start(trigger_once=True)
        q.awaitTermination(120)

        # before fired, then after, for the same round; observer saw the batch
        assert hook.befores == [("oplog", 0)]
        assert [(r.batch_id, r.rows) for r in hook.rounds] == [(0, 4)]  # 2 puts + 2 marks
        assert hook.rounds[0].duration_s >= 0
        assert sorted(seen) == ["r1", "r2"]

        # second round: batch_id advances, only new rows counted
        b2 = MutationBatch(base_seq=10)
        b2.put("r3", "Data", "qu0", "v3", ts=200)
        _write_batch_with_notify(spark, oplog, b2, "Data", "qu0")
        q2 = pipe.start(trigger_once=True)
        q2.awaitTermination(120)
        assert [(r.batch_id, r.rows) for r in hook.rounds] == [(0, 4), (1, 2)]

        # listener-side after-round records agree on input rows
        # (listener events are delivered async — poll briefly)
        import time as _time

        deadline = _time.time() + 30
        while _time.time() < deadline:
            rows_by_batch = {r.batch_id: r.rows for r in listener.rounds}
            if rows_by_batch.get(0) == 4 and rows_by_batch.get(1) == 2:
                break
            _time.sleep(0.5)
        assert rows_by_batch.get(0) == 4 and rows_by_batch.get(1) == 2
    finally:
        spark.streams.removeListener(listener)


def test_stream_static_enrichment_join_matches_batch(spark, tmpdir):
    """Stream-static join: the event stream enriched against a static
    dimension (per-user segment from the customer table) — the
    canonical Structured Streaming enrichment pattern. The static side
    re-resolves per micro-batch (a dimension update would be picked up
    at the next trigger); stream result ≡ the equivalent batch join."""
    ev = load(spark, "/root/testdata/sf0.001", "events").select("event_id", "user_id", "value")
    dim = (
        load(spark, "/root/testdata/sf0.001", "customer")
        .select(F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment"))
    )
    expect = {
        (r.segment, r.n): r.total
        for r in ev.join(dim, "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .collect()
    }

    src = f"{tmpdir}/events"
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.join(dim, "user_id")  # static side: plain DataFrame
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("enrich_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.segment, r.n): r.total
        for r in spark.sql("select * from enrich_out").collect()
    }
    assert got == expect
