"""Streaming dedup admission: batch-vs-standing-corpus verdicts,
set growth, in-batch keeper rules, and the streaming drain path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tera_spark.streaming.dedup_stream import DedupAdmission

T1 = "the quick brown fox jumps over the lazy dog again and again today"
T1_NEAR = "the quick brown fox jumps over the lazy dog again and again tomorrow"
T2 = "completely different words about spark engines and cell stores here"
T3 = "nothing like anything stored before zebra quantum paradox moonlight"

DDL = "doc_id long, text string"


@pytest.mark.slow
def test_admit_two_batches_and_set_growth(spark, tmp_path):
    adm = DedupAdmission(spark, str(tmp_path / "adm"))

    b1 = spark.createDataFrame([(1, T1), (2, T2)], DDL)
    v1 = {r.id: r.verdict for r in adm.admit(b1, 0).collect()}
    assert v1 == {1: "unique", 2: "unique"}

    b2 = spark.createDataFrame(
        [
            (10, T1),       # exact dup of admitted doc 1
            (11, T1_NEAR),  # near dup of admitted doc 1
            (12, T3),       # brand new
            (13, T3),       # in-batch exact dup of 12 (keeper = 12... but 12 is unique)
        ],
        DDL,
    )
    v2 = {r.id: r.verdict for r in adm.admit(b2, 1).collect()}
    assert v2[10] == "exact"
    assert v2[11] == "near"
    assert v2[12] == "unique"
    assert v2[13] == "exact"  # non-keeper of the in-batch pair

    # batch 3: T3 is now in the standing set
    b3 = spark.createDataFrame([(20, T3)], DDL)
    v3 = {r.id: r.verdict for r in adm.admit(b3, 2).collect()}
    assert v3 == {20: "exact"}

    # audit log has one decision per (batch, id)
    log = adm.decisions().collect()
    assert len(log) == 7


@pytest.mark.slow
def test_in_batch_near_rule_is_deterministic(spark, tmp_path):
    adm = DedupAdmission(spark, str(tmp_path / "adm2"))
    b = spark.createDataFrame([(5, T1), (6, T1_NEAR)], DDL)
    v = {r.id: r.verdict for r in adm.admit(b, 0).collect()}
    # smaller id survives; larger id flagged near via shared bucket
    assert v == {5: "unique", 6: "near"}


@pytest.mark.slow
def test_streaming_drain_with_checkpoint(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(1, T1), (2, T2)], DDL).write.mode("append").parquet(str(src))
    adm = DedupAdmission(spark, str(tmp_path / "adm3"))
    adm.stream(str(src), str(tmp_path / "ckpt"), DDL)
    first = {r.id: r.verdict for r in adm.decisions().select("id", "verdict").collect()}
    assert first == {1: "unique", 2: "unique"}

    # second drain: only NEW files are processed (checkpoint = ack)
    spark.createDataFrame([(10, T1), (11, T3)], DDL).write.mode("append").parquet(str(src))
    adm.stream(str(src), str(tmp_path / "ckpt"), DDL)
    log = {r.id: r.verdict for r in adm.decisions().select("id", "verdict").collect()}
    assert log == {1: "unique", 2: "unique", 10: "exact", 11: "unique"}


@pytest.mark.slow
def test_epoch_replay_is_idempotent(spark, tmp_path):
    """A re-run epoch (failure between decision write and checkpoint
    commit) re-appends the same rows under the same batch id; the
    decisions() view dedupes, and re-classification of an admitted doc
    flips to 'exact' only in the RE-APPENDED rows, which dedup drops."""
    adm = DedupAdmission(spark, str(tmp_path / "admr"))
    b = spark.createDataFrame([(1, T1), (2, T2)], DDL)
    first = {r.id: r.verdict for r in adm.admit(b, 0).collect()}
    assert first == {1: "unique", 2: "unique"}
    adm.admit(b, 0)  # replay same epoch
    log = adm.decisions().collect()
    assert len(log) == 2  # one decision per (batch, id) after dedup
