"""Streaming media triage (streaming/media_triage.py): per-epoch
censuses must merge to exactly the batch triage answer, replays must
be idempotent, quarantine must carry the assets that failed the deep
walk, and the real foreachBatch path must drive the fold."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tera_spark.streaming.media_triage import MediaTriage


def _bag(spark, n=40):
    """Mixed assets: mp3 + wav + garbage; every 5th mp3 corrupted
    AFTER the ID3 prefix so it still sniffs as mp3 but fails the
    frame walk (the quarantine case)."""
    from tera_spark.operators.multimodal import synth_mp3_media, synth_wav_media

    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") * 31 % 199).alias("n_chars")
    )
    mp3 = synth_mp3_media(docs.filter("doc_id % 3 = 0")).withColumn(
        "payload",
        F.when(
            F.col("asset_id") % 5 == 0,
            F.concat(F.expr("cast('ID3' as binary)"), F.expr("unhex('0400000000000000DEAD')")),
        ).otherwise(F.col("payload")),
    )
    wav = synth_wav_media(docs.filter("doc_id % 3 = 1"))
    junk = docs.filter("doc_id % 3 = 2").select(
        F.col("doc_id").alias("asset_id"),
        F.lit("unknown").alias("media_type"),
        F.expr("unhex('00BADBAD')").alias("payload"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    return mp3.unionByName(wav).unionByName(junk)


def _batch_census(bag):
    from tera_spark.operators.multimodal import extract_mp3_metadata, sniff_formats

    sniffed = sniff_formats(bag).withColumn(
        "n_bytes", F.coalesce(F.length("payload"), F.lit(0)).cast("long")
    )
    bad = (
        extract_mp3_metadata(sniffed.filter("format = 'mp3'"), on_error="quarantine")
        .filter("n_frames = -1")
        .select("asset_id", F.lit(1).alias("quarantined"))
    )
    return {
        r["format"]: (r["n_assets"], r["n_bytes"], r["n_quarantined"])
        for r in sniffed.join(bad, "asset_id", "left")
        .groupBy("format")
        .agg(
            F.count("*").cast("long").alias("n_assets"),
            F.sum("n_bytes").cast("long").alias("n_bytes"),
            F.coalesce(F.sum("quarantined"), F.lit(0)).cast("long").alias("n_quarantined"),
        )
        .collect()
    }


def _census_dict(tri):
    return {
        r["format"]: (r["n_assets"], r["n_bytes"], r["n_quarantined"])
        for r in tri.census().collect()
    }


@pytest.mark.slow
def test_folded_census_equals_batch(spark, tmp_path):
    bag = _bag(spark)
    tri = MediaTriage(spark, str(tmp_path / "tri"))
    for e in range(3):
        tri.fold(bag.filter(f"asset_id % 3 = {e}"), e)
    got = _census_dict(tri)
    want = _batch_census(bag)
    assert got == want
    assert set(got) == {"mp3", "wav", "unknown"}
    assert got["mp3"][2] > 0  # the corrupted mp3s were quarantined


@pytest.mark.slow
def test_replayed_epoch_is_idempotent(spark, tmp_path):
    bag = _bag(spark)
    tri = MediaTriage(spark, str(tmp_path / "tri"))
    tri.fold(bag.filter("asset_id % 2 = 0"), 0)
    tri.fold(bag.filter("asset_id % 2 = 1"), 1)
    before = _census_dict(tri)
    tri.fold(bag.filter("asset_id % 2 = 1"), 1)  # replay epoch 1
    assert _census_dict(tri) == before


def test_quarantine_carries_failed_assets(spark, tmp_path):
    bag = _bag(spark)
    tri = MediaTriage(spark, str(tmp_path / "tri"))
    tri.fold(bag, 0)
    q = {r["asset_id"] for r in tri.quarantine().collect()}
    # corrupted = mp3 slice (doc_id % 3 == 0) with asset_id % 5 == 0
    want = {i for i in range(40) if i % 3 == 0 and i % 5 == 0}
    assert q == want


def test_streaming_foreachbatch_drives_fold(spark, tmp_path):
    bag = _bag(spark)
    src = str(tmp_path / "src")
    bag.filter("asset_id % 2 = 0").write.parquet(src + "/p0")
    bag.filter("asset_id % 2 = 1").write.parquet(src + "/p1")
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in bag.schema.fields
    )
    tri = MediaTriage(spark, str(tmp_path / "tri"))
    q = tri.stream(src + "/p*", str(tmp_path / "ck"), schema)
    q.awaitTermination(120)
    assert _census_dict(tri) == _batch_census(bag)
