"""Audio energy-contour fingerprints and Y4M shot-boundary detection
(multimodal.py audio_fingerprints / scene_cuts) against pure-Python
replays and hand-built clips."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.mark.slow
def test_audio_fingerprint_matches_python_replay(spark):
    from tera_spark.operators.multimodal import audio_fingerprints, synth_wav_media

    docs = spark.range(0, 30).select(
        F.col("id").alias("doc_id"), (F.col("id") * 41 % 307).alias("n_chars")
    )
    rows = {r["asset_id"]: r for r in audio_fingerprints(synth_wav_media(docs)).collect()}
    assert len(rows) == 30
    for did in range(30):
        n = did * 41 % 307
        cnt = 64 + n % 128
        s = [((did * 7 + i * 13) % 2048 - 1024) * 16 for i in range(cnt)]
        nw = cnt // 16
        e = [sum(abs(x) for x in s[k * 16:(k + 1) * 16]) for k in range(nw)]
        fp = 0
        for k in range(nw - 1):
            if e[k + 1] > e[k]:
                fp |= 1 << k
        r = rows[did]
        assert (r["n_windows"], r["fp"], r["energy_sum"]) == (nw, fp, sum(e))


def test_audio_fingerprint_identical_clips_collide(spark):
    from tera_spark.operators.multimodal import audio_fingerprints, synth_wav_media

    docs = spark.createDataFrame([(1, 50), (101, 50)], "doc_id long, n_chars long")
    # different ids -> different samples -> (almost surely) different fp;
    # same id twice -> identical payload -> identical fp
    same = spark.createDataFrame([(7, 50), (7, 50)], "doc_id long, n_chars long")
    fps = [r["fp"] for r in audio_fingerprints(synth_wav_media(same)).collect()]
    assert fps[0] == fps[1]
    # window must be positive
    with pytest.raises(ValueError):
        audio_fingerprints(synth_wav_media(docs), window=0)


def test_scene_cuts_handmade_two_scene_clip(spark):
    from tera_spark.operators.multimodal import MEDIA_SCHEMA, scene_cuts
    from tera_spark.operators.video import encode_y4m_gray

    w, h = 8, 6
    # scene A: three near-identical dark frames; hard cut to scene B:
    # two bright frames; then a gentle fade (no cut)
    frames = [
        bytes([10]) * (w * h),
        bytes([12]) * (w * h),
        bytes([11]) * (w * h),
        bytes([200]) * (w * h),  # cut at frame 3
        bytes([205]) * (w * h),
        bytes([150]) * (w * h),  # |Δ|=55 < 100: not a cut
    ]
    clip = encode_y4m_gray(w, h, frames)
    media = spark.createDataFrame(
        [(1, "video", bytearray(clip), None)], MEDIA_SCHEMA
    )
    r = scene_cuts(media, threshold=100).collect()[0]
    assert (r["n_frames"], r["n_cuts"], r["first_cut"]) == (6, 1, 3)
    # threshold is a knob: at 40 the fade becomes a cut too
    r2 = scene_cuts(media, threshold=40).collect()[0]
    assert (r2["n_cuts"], r2["first_cut"]) == (2, 3)


def test_scene_cuts_single_frame_has_no_cuts(spark):
    from tera_spark.operators.multimodal import MEDIA_SCHEMA, scene_cuts
    from tera_spark.operators.video import encode_y4m_gray

    clip = encode_y4m_gray(4, 4, [bytes([99]) * 16])
    media = spark.createDataFrame([(5, "video", bytearray(clip), None)], MEDIA_SCHEMA)
    r = scene_cuts(media).collect()[0]
    assert (r["n_frames"], r["n_cuts"], r["first_cut"]) == (1, 0, -1)


def test_cross_container_phash_agreement(spark):
    """PNG, GIF and WebP-lossless of the same plane must hash alike —
    and a one-pixel drift must split the cluster."""
    from tera_spark.operators.gif import encode_gif_gray
    from tera_spark.operators.multimodal import (
        encode_png_gray,
        phash64,
        phash_df,
        synth_cross_container_media,
    )
    from tera_spark.operators.vp8l import encode_vp8l

    docs = spark.range(0, 12).select(
        F.col("id").alias("doc_id"), (F.col("id") * 29 % 151).alias("n_chars")
    )
    hashed = phash_df(synth_cross_container_media(docs))
    per_doc = {
        r["asset_id"]: (r["n"], r["d"])
        for r in hashed.groupBy("asset_id")
        .agg(F.count("*").alias("n"), F.countDistinct("phash").alias("d"))
        .collect()
    }
    assert len(per_doc) == 12
    assert all(v == (3, 1) for v in per_doc.values()), per_doc

    # sensitivity: flipping one pixel by enough to cross the mean
    # threshold separates the hashes
    w = h = 8
    px = bytes((i * 23) % 256 for i in range(w * h))
    drifted = bytes([255 if i == 0 else px[i] for i in range(w * h)])
    assert phash64(encode_png_gray(w, h, px)) == phash64(encode_gif_gray(w, h, px))
    assert phash64(encode_png_gray(w, h, px)) != phash64(encode_png_gray(w, h, drifted))
    # the webp gate routes through the real VP8L decode now
    rgba = b"".join(bytes((v, v, v, 255)) for v in px)
    assert phash64(encode_vp8l(w, h, rgba)) == phash64(encode_png_gray(w, h, px))


def test_scene_cuts_typed_error_on_corrupt_clip(spark):
    from tera_spark.operators.multimodal import MEDIA_SCHEMA, scene_cuts
    from tera_spark.operators.video import encode_y4m_gray

    clip = bytearray(encode_y4m_gray(4, 4, [bytes([1]) * 16, bytes([2]) * 16]))
    clip[0:5] = b"JUNK!"  # destroy the stream header
    media = spark.createDataFrame([(1, "video", bytes(clip), None)], MEDIA_SCHEMA)
    with pytest.raises(Exception) as ei:
        scene_cuts(media).collect()
    # the typed contract surfaces through the Py4J wrapper as ValueError text
    assert "ValueError" in str(ei.value) or "Y4M" in str(ei.value)


def test_audio_fingerprint_typed_error_on_corrupt_wav(spark):
    from pyspark.sql import functions as F

    from tera_spark.operators.multimodal import audio_fingerprints, synth_wav_media

    docs = spark.range(0, 2).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("n_chars")
    )
    media = synth_wav_media(docs).withColumn(
        "payload", F.expr("unhex('52494646FFFFFFFF57415645')")  # RIFF/WAVE, torn body
    )
    with pytest.raises(Exception):
        audio_fingerprints(media).collect()
