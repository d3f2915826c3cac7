"""Round-8 advice regressions.

1. FLAC STREAMINFO-MD5 packing must be byte-aligned (RFC 9639
   §9.1.1): ``bps // 8`` truncates for the 12/20-bit depths the
   sample-size code map supports and int.to_bytes overflows on
   perfectly in-range samples — an untyped crash that broke the
   module's ValueError/NotImplementedError contract.
2. compression_ratio must map NULL text to ratio 1.0 (octet_length of
   NULL is NULL, so an ``== 0`` guard alone leaves the ratio NULL).
3. The MP3 free-format frame-size scan must survive a coincidental
   sync-looking byte pair inside the first frame's payload: a
   candidate boundary is only trusted when the boundary it implies
   also parses as a same-stream sync.
4. Filtered ANN self-match contract: the brute fallback and the
   IVF/ADC/rerank path must agree that a query never retrieves
   itself, on BOTH sides of the brute_limit threshold.

   Adjudication note: the advice claimed the IVF path lacked the
   self-filter. Checked against the source at the round-7 head: BOTH
   ADC scorers already exclude self (the expression path filters
   id != q_id at vector_index.py:455 and the Arrow kernel masks
   ids != q_id at :491; both predate round 7, commit bee31551), so
   the contract was already consistent — this test pins it across
   the threshold so a future path change cannot silently diverge.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tera_spark.operators.flac import encode_flac, parse_flac
from tera_spark.operators.mp3 import encode_mp3, parse_mp3


@pytest.mark.parametrize("bps", [12, 20])
def test_flac_md5_byte_aligned_packing(bps):
    # samples that need the FULL ceil(bps/8) byte width: 2000 does not
    # fit one signed byte, 400000 does not fit two — the pre-fix
    # bps//8 width made int.to_bytes raise OverflowError here
    hi = (1 << (bps - 1)) - 1
    samples = [0, 1, -1, hi, -hi - 1, hi // 2, -(hi // 3)] * 20
    b = encode_flac([samples], 8000, bps=bps, mode="verbatim", block_size=64)
    meta = parse_flac(b)  # decode verifies MD5 against decoded PCM
    assert meta["bps"] == bps
    assert meta["n_samples"] == len(samples)
    assert meta["sample_sum"] == sum(samples)


def test_compression_ratio_null_text_pins_ratio_one(spark):
    from tera_spark.operators.textops import compression_ratio

    docs = spark.createDataFrame(
        [(1, "aaaaaaaaaaaaaaaaaaaaaaaa"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert rows[2]["ratio"] == 1.0  # NULL text: same pin as empty
    assert rows[3]["ratio"] == 1.0
    assert rows[1]["ratio"] is not None and rows[1]["ratio"] < 1.0


def test_mp3_free_format_survives_coincidental_sync():
    """Plant a headered-looking sync pair inside frame 0's payload of a
    valid free-format stream: the old first-match scan mis-sized
    free_flen off it and failed a VALID stream with a mixed-stream /
    lost-sync error; the verified scan must skip it (the boundary it
    implies does not parse) and find the true 500-byte period."""
    p = bytearray(encode_mp3([(0, 0)] * 5, 0, free_format_flen=500))
    b1 = p[1]
    sri = 0  # 44.1 kHz index used by the fixture
    # bri=9 (a real MPEG-1 bitrate), matching sample-rate bits
    p[100:104] = bytes([0xFF, b1, (9 << 4) | (sri << 2), 0x00])
    # and a free-format-looking pair too (bri=0): its implied next
    # boundary at q + (q - pos) is filler, so it must also be skipped
    p[60:64] = bytes([0xFF, b1, (0 << 4) | (sri << 2), 0x00])
    m = parse_mp3(bytes(p))
    assert m["n_frames"] == 5
    assert m["avg_kbps"] == 500 * 44100 // 144_000


def test_mp3_mixed_stream_still_detected():
    """The verified scan must still catch a genuine headered frame
    following free-format frames (constant-size contract)."""
    free = encode_mp3([(0, 0)] * 2, 0, free_format_flen=400)
    headered = encode_mp3([(9, 0)], 0)
    with pytest.raises(ValueError, match="headered frame"):
        parse_mp3(free + headered)


@pytest.mark.slow
def test_ann_self_filter_consistent_across_brute_threshold(spark, tmp_path):
    from tera_spark.operators.vector_index import VectorIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = VectorIndex.build(
        emb, str(tmp_path / "vi_self"), k_coarse=4, m=8, k_codes=8, iters=1
    )
    q = emb.filter(F.col("vec_id") < 4)
    allowed = emb.select("vec_id")  # includes every query id
    n = emb.count()
    # brute path (allow-list under the limit) vs IVF/ADC/rerank path
    # (limit forced below the allow-list size): SAME self-exclusion
    brute = idx.topk(q, k=5, allowed=allowed, brute_limit=n).collect()
    ivf = idx.topk(q, k=5, nprobe=4, allowed=allowed, brute_limit=0).collect()
    for rows, label in ((brute, "brute"), (ivf, "ivf")):
        assert rows, label
        assert all(r.v_id != r.q_id for r in rows), label
        per_q = {}
        for r in rows:
            per_q.setdefault(r.q_id, []).append(r.rank)
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values()), label
