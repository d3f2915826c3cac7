"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, processed via Arrow-batched Pandas UDFs over mapInPandas.

Two codec tiers:

* REAL, stdlib-pure: PNG (zlib inflate + full scanline unfiltering,
  gray/RGB/RGBA 8-bit; plus a grayscale encoder for the resize
  re-encode path), JPEG (baseline-sequential: segment parse, Huffman,
  dequant, exact IDCT, 4:4:4/4:2:2/4:2:0 chroma, BT.601 color —
  operators/jpeg.py, stdlib + numpy), GIF (variable-width LZW,
  interlace, palettes, multi-frame counting — operators/gif.py),
  WebP-lossless / VP8L (full bitstream: Huffman trees, meta-Huffman,
  color cache, LZ77, all four inverse transforms — operators/vp8l.py),
  WAV (RIFF PCM16 via `wave`, plus a manual RIFF walk expanding G.711
  µ-law — format tag 7), and Y4M video (operators/video.py). A payload
  whose magic bytes identify one of these containers decodes for real
  — pixels/samples out, no fakery.
* STUBBED: formats needing a full transform codec (progressive/
  arithmetic JPEG, lossy VP8, MP3 *samples*, ...) raise
  NotImplementedError unless ``fake=True``, in which case a
  deterministic fake derived from the raw bytes stands in (keeps
  fixtures oracle-checkable without binary assets). MP3 *container
  metadata* (frame walk, duration, CBR/VBR, ID3 tags) is REAL —
  operators/mp3.py — because crawl triage needs the header walk,
  not the filterbank.

Everything around the codecs — schema, Arrow batch iteration,
partition-size control, UDF signatures — is the production Spark
plumbing either way: payload bytes never cross a shuffle, and decode
parallelism is whatever the upstream partitioning says.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Decode hardening: a 100 TB crawl contains corrupt payloads with
# valid magics. Every decode failure at the dispatch boundary is a
# TYPED error (ValueError / NotImplementedError) — low-level slips
# (zlib.error, struct.error, IndexError, KeyError, StopIteration)
# from a corrupted bitstream re-raise as ValueError so mapInPandas
# error handling and tests can rely on one contract. Decoders also
# cap header-claimed dimensions (MAX_DECODE_PIXELS) so a corrupt
# size field cannot allocate unbounded buffers.
MAX_DECODE_PIXELS = 1 << 26  # 64M pixels = 256 MB RGBA


def _typed_decode(fmt: str, fn, *args):
    try:
        return fn(*args)
    except (ValueError, NotImplementedError):
        raise
    except (IndexError, KeyError, StopIteration, OverflowError, EOFError,
            TypeError, struct.error, zlib.error) as e:
        raise ValueError(f"corrupt {fmt} payload: {type(e).__name__}: {e}") from e


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
JPEG_MAGIC = b"\xff\xd8\xff"
GIF_MAGICS = (b"GIF87a", b"GIF89a")


# Adam7 pass layout: (x_start, y_start, x_step, y_step) per pass
# (PNG spec starting_col/row + col/row_increment tables)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def encode_png_gray(
    width: int, height: int, pixels: bytes, *, interlace: bool = False
) -> bytes:
    """Minimal real PNG encoder: 8-bit grayscale, filter 0 scanlines,
    one zlib-deflated IDAT. ``interlace=True`` emits a spec-exact
    Adam7 stream (each pass its own filtered scanline run).
    Round-trips through any PNG decoder."""
    if len(pixels) != width * height:
        raise ValueError(f"need {width * height} pixels, got {len(pixels)}")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, int(interlace))
    if interlace:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            for y in range(y0, height, dy):
                line = bytes(pixels[y * width + x] for x in range(x0, width, dx))
                if line:
                    raw += b"\x00" + line
        raw = bytes(raw)
    else:
        raw = b"".join(
            b"\x00" + pixels[y * width : (y + 1) * width] for y in range(height)
        )
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color_type -> samples/pixel


def _png_unfilter(raw: bytes, off: int, w_px: int, h: int, ch: int) -> tuple[bytes, int]:
    """Unfilter ``h`` scanlines of a ``w_px``-pixel-wide (sub)image
    starting at byte ``off`` of the inflated stream (filter types 0-4
    incl. Paeth). Returns (pixels, next offset)."""
    stride = w_px * ch
    out = bytearray()
    prev = bytes(stride)
    for _ in range(h):
        if off + 1 + stride > len(raw):
            raise ValueError("corrupt PNG: inflated stream shorter than scanlines")
        ftype = raw[off]
        row = bytearray(raw[off + 1 : off + 1 + stride])
        off += 1 + stride
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0  # left (already unfiltered)
            b = prev[x]  # up
            c = prev[x - ch] if x >= ch else 0  # upper-left
            if ftype == 1:
                row[x] = (row[x] + a) & 0xFF
            elif ftype == 2:
                row[x] = (row[x] + b) & 0xFF
            elif ftype == 3:
                row[x] = (row[x] + (a + b) // 2) & 0xFF
            elif ftype == 4:  # Paeth predictor
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[x] = (row[x] + pred) & 0xFF
            elif ftype != 0:
                raise ValueError(f"bad PNG filter type {ftype}")
        prev = bytes(row)
        out += row
    return bytes(out), off


def decode_png(payload: bytes) -> dict:
    """Real stdlib PNG decode: chunk walk, zlib inflate, full scanline
    unfiltering (filter types 0-4 incl. Paeth), and Adam7 de-interlace
    (each pass unfiltered as its own sub-image, then scattered on the
    pass grid). Supports 8-bit gray / gray+alpha / RGB / RGBA.
    Returns {width, height, channels, pixels} with pixels as the raw
    channel-interleaved bytes."""
    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, meta = 8, [], None
    interlace = 0
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if w * h > MAX_DECODE_PIXELS:
                raise ValueError(f"PNG dimensions {w}x{h} exceed the decode cap")
            if depth != 8 or ctype not in _PNG_CHANNELS:
                raise NotImplementedError(f"PNG depth={depth} color_type={ctype}")
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
            meta = (w, h, _PNG_CHANNELS[ctype])
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, ch = meta
    raw = zlib.decompress(b"".join(idat))
    if not interlace:
        pixels, _ = _png_unfilter(raw, 0, w, h, ch)
        return {"width": w, "height": h, "channels": ch, "pixels": pixels}
    # Adam7: seven independently-filtered sub-images, scattered back
    out = bytearray(w * h * ch)
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = max(0, (w - x0 + dx - 1) // dx)
        ph = max(0, (h - y0 + dy - 1) // dy)
        if pw == 0 or ph == 0:
            continue  # pass empty for these dimensions
        sub, off = _png_unfilter(raw, off, pw, ph, ch)
        for j in range(ph):
            for i in range(pw):
                dst = ((y0 + j * dy) * w + (x0 + i * dx)) * ch
                src = (j * pw + i) * ch
                out[dst : dst + ch] = sub[src : src + ch]
    return {"width": w, "height": h, "channels": ch, "pixels": bytes(out)}


def encode_wav_pcm16(sample_rate: int, samples: list[int] | bytes) -> bytes:
    """Real WAV encoder: mono PCM16 via the stdlib `wave` module."""
    import io
    import wave

    if not isinstance(samples, (bytes, bytearray)):
        samples = struct.pack(f"<{len(samples)}h", *samples)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(bytes(samples))
    return buf.getvalue()


def decode_wav(payload: bytes) -> dict:
    """Real WAV decode: linear PCM16 via the stdlib `wave` parser,
    plus a manual RIFF walk for G.711 µ-law payloads (format tag 7 —
    the telephony-audio WAV the stdlib refuses; the expansion formula
    is ITU G.711 public math). Returns sample rate, sample count,
    channels, and the 16-bit samples (first channel)."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
            rate, nch, width = w.getframerate(), w.getnchannels(), w.getsampwidth()
            nframes = w.getnframes()
            frames = w.readframes(nframes)
    except (wave.Error, RuntimeError, EOFError):
        # wave.py raises a BARE RuntimeError seeking past a corrupt
        # chunk size — a corrupt-payload signal here, so fall through
        # to the manual RIFF walk, which fails with typed errors
        return _decode_wav_riff(bytes(payload))
    if width != 2:
        raise NotImplementedError(f"WAV sample width {width}")
    all_samples = struct.unpack(f"<{nframes * nch}h", frames)
    return {
        "sample_rate": rate,
        "n_samples": nframes,
        "channels": nch,
        "samples": all_samples[::nch],
    }


def mulaw_expand(code: int) -> int:
    """ITU G.711 µ-law byte -> linear 16-bit sample (public formula:
    complement, split into sign/segment/mantissa, shift out, re-bias)."""
    u = ~code & 0xFF
    exp = (u >> 4) & 0x7
    mant = u & 0x0F
    x = (((mant << 3) + 0x84) << exp) - 0x84
    return -x if u & 0x80 else x


def _decode_wav_riff(payload: bytes) -> dict:
    """Manual RIFF chunk walk for non-PCM WAV. Supports format tag 7
    (G.711 µ-law, 8-bit codes). Other compressed formats (ADPCM, MP3-
    in-WAV) stay the external-codec stub tier."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (ln,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            data = body
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    wtag, nch, rate, _brate, _align, bits = fmt
    if wtag != 7 or bits != 8:
        raise NotImplementedError(f"WAV format tag {wtag} ({bits}-bit)")
    samples = tuple(mulaw_expand(c) for c in data[::nch])
    return {
        "sample_rate": rate,
        "n_samples": len(data) // nch,
        "channels": nch,
        "samples": samples,
    }


def encode_wav_mulaw(sample_rate: int, codes: bytes) -> bytes:
    """Real µ-law WAV encoder (format tag 7, mono, 8-bit codes): the
    canonical non-PCM layout — 18-byte fmt chunk (cbSize=0) + the
    spec-required fact chunk (sample count) + data. Container size is
    therefore exactly 58 + len(codes) bytes (the oracle formula)."""
    n = len(codes)
    fmt = struct.pack("<HHIIHHH", 7, 1, sample_rate, sample_rate, 1, 8, 0)
    fact = struct.pack("<I", n)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", n) + bytes(codes)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body

# media asset table schema: opaque payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = (
    "asset_id long, media_type string, n_bytes long, head_byte int, "
    "byte_sum long, width int, height int, n_pixels long, pixel_sum long"
)


def decode_image(payload: bytes, *, fake: bool = False) -> dict:
    """Image decode. PNG, baseline JPEG and GIF payloads
    (magic-sniffed) decode for REAL via the stdlib codecs
    (operators/jpeg.py, operators/gif.py). Other formats need external
    libs (PIL/libvips): they raise unless ``fake=True``, whose
    deterministic stand-in derives pseudo-dimensions from the bytes
    and uses the payload itself as the 'pixels'."""
    if payload[:8] == PNG_MAGIC:
        return _typed_decode("PNG", decode_png, payload)
    if payload[:3] == JPEG_MAGIC:
        from tera_spark.operators.jpeg import decode_jpeg

        return _typed_decode("JPEG", decode_jpeg, payload)
    if payload[:6] in GIF_MAGICS:
        from tera_spark.operators.gif import decode_gif

        return _typed_decode("GIF", decode_gif, payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from tera_spark.operators.vp8l import decode_webp

        return _typed_decode("WebP", decode_webp, payload)
    if not fake:
        raise NotImplementedError(
            "image codecs beyond PNG/baseline-JPEG/GIF/WebP-lossless "
            "not available in this container"
        )
    n = len(payload)
    return {
        "width": 16 + (payload[0] if n else 0) % 64,
        "height": 16 + (payload[-1] if n else 0) % 64,
        "channels": 1,
        "pixels": bytes(payload),
    }


def decode_audio(payload: bytes, *, fake: bool = False) -> dict:
    """Audio decode. RIFF/WAVE payloads decode for REAL via the stdlib
    `wave` parser; fLaC payloads via the full FLAC decoder
    (operators/flac.py — ``samples`` is channel 0 for multi-channel
    streams; use flac.decode_flac directly for all channels). MP3
    SAMPLE synthesis is a documented non-goal (SURVEY §2.7): the
    container walk (operators/mp3.py) serves triage, and the lossless
    tier (WAV/µ-law/FLAC) covers sample-level analysis. Other formats
    raise unless ``fake=True`` (deterministic rate/sample-count
    stand-in derived from the bytes)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _typed_decode("WAV", decode_wav, payload)
    if payload[:4] == b"fLaC":
        from tera_spark.operators.flac import decode_flac

        def _flac(p: bytes) -> dict:
            info, chans = decode_flac(p)
            return {
                "sample_rate": info["sample_rate"],
                "n_samples": len(chans[0]) if chans else 0,
                "channels": info["channels"],
                "samples": chans[0] if chans else (),
            }

        return _typed_decode("FLAC", _flac, payload)
    if not fake:
        raise NotImplementedError("non-WAV/FLAC audio codecs not available in this container")
    n = len(payload)
    rate = 8000 * (1 + (payload[0] if n else 0) % 3)  # 8/16/24 kHz
    return {"sample_rate": rate, "n_samples": n * 256, "channels": 1, "samples": ()}


def extract_features(
    media: DataFrame, *, fake_decode: bool = False, on_error: str = "fail"
) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, one feature
    row per asset out. Partition count is preserved, so upstream
    repartitioning controls decode parallelism and batch memory.

    ``on_error``: a 100 TB crawl WILL contain corrupt payloads behind
    valid magics. ``"fail"`` (default) keeps strict semantics — the
    first bad asset fails the task (right for curated fixtures and
    oracle checks). ``"quarantine"`` converts every TYPED decode error
    (the _typed_decode contract) into a row with width/height = -1 and
    n_pixels/pixel_sum = 0, so one garbage asset cannot kill a
    million-asset task; filter `width >= 0` downstream (byte-level
    columns stay populated — enough to route the asset to a
    quarantine sink for inspection)."""
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be fail|quarantine, got {on_error!r}")

    def decode_or_quarantine(b: bytes) -> dict:
        if on_error == "fail":
            return decode_image(b, fake=fake_decode)
        try:
            return decode_image(b, fake=fake_decode)
        except (ValueError, NotImplementedError, EOFError):
            return {"width": -1, "height": -1, "channels": 0, "pixels": b""}

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"].apply(lambda b: bytes(b) if b is not None else b"")
            dims = payloads.apply(decode_or_quarantine)
            out = pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.apply(len).astype("int64"),
                    "head_byte": payloads.apply(lambda b: b[0] if len(b) else -1).astype("int32"),
                    "byte_sum": payloads.apply(lambda b: sum(b) % (1 << 31)).astype("int64"),
                    "width": dims.apply(lambda d: d["width"]).astype("int32"),
                    "height": dims.apply(lambda d: d["height"]).astype("int32"),
                    "n_pixels": dims.apply(lambda d: len(d["pixels"])).astype("int64"),
                    "pixel_sum": dims.apply(lambda d: sum(d["pixels"]) % (1 << 31)).astype(
                        "int64"
                    ),
                }
            )
            yield out

    from tera_spark.sources.tables import ensure_parallelism

    return ensure_parallelism(media).mapInPandas(op, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = (
    "asset_id long, frame_idx int, width int, height int, "
    "n_frames int, fps_num int, luma_sum long"
)


def extract_frames(media: DataFrame, *, every_n: int = 2) -> DataFrame:
    """REAL video frame extraction: Arrow-batched mapInPandas over Y4M
    payloads, each asset exploding to one row per SAMPLED frame (every
    ``every_n``-th) with per-frame luma features. The payload is
    decoded once per task and never crosses a shuffle — the production
    shape of distributed video processing; frame_sample_plan remains
    the metadata-only planner for externally-decoded formats."""
    from tera_spark.operators.video import _plane_sizes, decode_y4m, parse_y4m_header

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "asset_id", "frame_idx", "width", "height",
                "n_frames", "fps_num", "luma_sum",
            )}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                payload = bytes(payload)
                # frame size is constant, so the frame COUNT comes from
                # header arithmetic and only the SAMPLED frames are
                # materialized (decode_y4m seek-skips the rest) —
                # every_n=30 reads 1/30th of the luma bytes, not all
                meta = parse_y4m_header(payload)
                y_sz, c_sz = _plane_sizes(meta["width"], meta["height"], meta["chroma"])
                frame_bytes = 6 + y_sz + c_sz  # b"FRAME\n" + planes
                nf = (len(payload) - meta["data_start"]) // frame_bytes
                wanted = list(range(0, nf, every_n))
                d = decode_y4m(payload, frames=wanted)
                # emit what decode actually found: per-frame parameters
                # (FRAME Ixxx) make headers variable-width, so the
                # arithmetic count is exact only for bare markers —
                # decode's walk is authoritative either way
                for fi in sorted(d["frames"]):
                    rows["asset_id"].append(int(aid))
                    rows["frame_idx"].append(fi)
                    rows["width"].append(d["width"])
                    rows["height"].append(d["height"])
                    rows["n_frames"].append(d["n_frames"])
                    rows["fps_num"].append(d["fps_num"])
                    rows["luma_sum"].append(sum(d["frames"][fi]))
            yield pd.DataFrame(rows)

    from tera_spark.sources.tables import ensure_parallelism

    vids = media.filter(F.col("media_type") == "video").select("asset_id", "payload")
    return ensure_parallelism(vids).mapInPandas(op, FRAME_SCHEMA)


# Y4M fixture formulas (see synth_y4m_media): frame f of asset id is a
# CONSTANT luma plane — lossless raw planes, exact closed-form oracle.
Y4M_W = "8 + (id % 6)"
Y4M_H = "6 + (n % 5)"
Y4M_FRAMES = "2 + (id % 5)"
Y4M_LUMA = "(id * 53 + f * 19) % 256"


def synth_y4m_media(
    docs: DataFrame, *, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """Encode one real multi-frame Y4M clip per row (Y4M_* formulas) —
    same Arrow-batched plumbing as the other synth generators."""
    from tera_spark.operators.video import encode_y4m_gray

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for sid, n in zip(pdf["id"], pdf["n"]):
                sid, n = int(sid), int(n)
                w, h = 8 + sid % 6, 6 + n % 5
                nf = 2 + sid % 5
                frames = [
                    bytes([(sid * 53 + f * 19) % 256]) * (w * h) for f in range(nf)
                ]
                payloads.append(encode_y4m_gray(w, h, frames))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "media_type": "video",
                    "payload": payloads,
                    "meta": [None] * len(pdf),
                }
            )

    base = docs.select(F.col(id_col).alias("id"), F.col(size_col).alias("n"))
    return base.mapInPandas(op, MEDIA_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling *plan*: one row per frame index to decode,
    computed from metadata (n_frames) without touching payloads — the
    shuffle-free fan-out a distributed decoder consumes."""
    # try_element_at: ANSI mode makes plain element_at throw on maps
    # lacking the key; assets without frame metadata plan zero frames
    n_frames = F.coalesce(
        F.try_element_at(F.col("meta"), F.lit("n_frames")).cast("int"), F.lit(0)
    )
    return (
        media.filter(F.col("media_type") == "video")
        .select("asset_id", F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_idx"))
    )


RESIZED_SCHEMA = (
    "asset_id long, media_type string, payload binary, "
    "width int, height int, n_bytes long"
)


def resize_image(payload: bytes, width: int, height: int, *, fake: bool = False) -> bytes:
    """Image resize. PNG and baseline-JPEG payloads resize for REAL:
    decode, grayscale (integer-mean across channels), nearest-neighbor
    resample, and re-encode through `encode_png_gray` (the resized
    artifact is always a lossless gray PNG — re-encoding to JPEG would
    stack quantization error). Other formats raise unless ``fake=True``
    (deterministic stand-in: width*height//256 payload bytes cycled)."""
    if payload[:8] == PNG_MAGIC or payload[:3] == JPEG_MAGIC or payload[:6] in GIF_MAGICS:
        d = decode_image(payload)
        w, h, ch, px = d["width"], d["height"], d["channels"], d["pixels"]
        if ch == 1:
            gray = px
        else:
            gray = bytes(
                sum(px[i * ch : i * ch + min(ch, 3)]) // min(ch, 3)  # alpha excluded
                for i in range(w * h)
            )
        out = bytes(
            gray[(y * h // height) * w + (x * w // width)]
            for y in range(height)
            for x in range(width)
        )
        return encode_png_gray(width, height, out)
    if not fake:
        raise NotImplementedError("non-PNG image codecs not available in this container")
    n = max(width * height // 256, 1)
    if not payload:
        return bytes(n)
    reps = -(-n // len(payload))
    return (bytes(payload) * reps)[:n]


def resize_images(
    media: DataFrame, *, width: int = 64, height: int = 64, fake_decode: bool = False
) -> DataFrame:
    """mapInPandas resize stage: Arrow batches of (payload, meta) in,
    re-encoded payloads + new dimensions out. Same partition-preserving
    shape as extract_features — upstream repartitioning bounds per-task
    decode memory; payload bytes never cross a shuffle."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"].apply(lambda b: bytes(b) if b is not None else b"")
            resized = payloads.apply(lambda b: resize_image(b, width, height, fake=fake_decode))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "payload": resized,
                    "width": pd.Series([width] * len(pdf), dtype="int32"),
                    "height": pd.Series([height] * len(pdf), dtype="int32"),
                    "n_bytes": resized.apply(len).astype("int64"),
                }
            )

    from tera_spark.sources.tables import ensure_parallelism

    return ensure_parallelism(media).mapInPandas(op, schema=RESIZED_SCHEMA)


AUDIO_SCHEMA = (
    "asset_id long, n_bytes long, sample_rate int, n_samples long, duration_ms long, "
    "amp_sum long"
)


def extract_audio_features(media: DataFrame, *, fake_decode: bool = False) -> DataFrame:
    """mapInPandas audio feature extraction (sample rate, sample count,
    duration) through the stubbed decoder — same partition-preserving
    Arrow-batch shape as the image path."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"].apply(lambda b: bytes(b) if b is not None else b"")
            dec = payloads.apply(lambda b: decode_audio(b, fake=fake_decode))
            rate = dec.apply(lambda d: d["sample_rate"]).astype("int32")
            samples = dec.apply(lambda d: d["n_samples"]).astype("int64")
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": payloads.apply(len).astype("int64"),
                    "sample_rate": rate,
                    "n_samples": samples,
                    "duration_ms": (samples * 1000 // rate).astype("int64"),
                    # mean-absolute-amplitude numerator; 0 on the fake
                    # path (no samples to decode)
                    "amp_sum": dec.apply(
                        lambda d: sum(abs(s) for s in d.get("samples", ()))
                    ).astype("int64"),
                }
            )

    from tera_spark.sources.tables import ensure_parallelism

    return ensure_parallelism(media).mapInPandas(op, schema=AUDIO_SCHEMA)


def phash64(payload: bytes, *, fake: bool = False) -> int:
    """Perceptual hash of an image payload: an 8x8 mean-threshold bit
    matrix over the luma plane packed into 64 bits (aHash — the
    mean-threshold member of the pHash family). PNG, baseline-JPEG,
    GIF and WebP-lossless payloads hash their REAL decoded pixels (so
    the same image in any of the four containers hashes alike); other
    formats raise unless ``fake=True`` (raw payload bytes stand in for
    luma). Near-identical images land within a small Hamming distance;
    unrelated ones differ in ~32 bits."""
    is_webp = payload[:4] == b"RIFF" and payload[8:12] == b"WEBP"
    if (
        payload[:8] == PNG_MAGIC
        or payload[:3] == JPEG_MAGIC
        or payload[:6] in GIF_MAGICS
        or is_webp
    ):
        d = decode_image(payload)
        ch, px = d["channels"], d["pixels"]
        payload = (
            px
            if ch == 1
            else bytes(
                sum(px[i * ch : i * ch + min(ch, 3)]) // min(ch, 3)
                for i in range(d["width"] * d["height"])
            )
        )
    elif not fake:
        raise NotImplementedError("non-PNG image codecs not available in this container")
    if not payload:
        return 0
    # average luma per 8x8 grid cell (on the fake path, raw payload
    # bytes stand in for decoded luma; deterministic either way)
    n = len(payload)
    cell = max(n // 64, 1)
    cells = [
        sum(payload[i * cell : (i + 1) * cell]) / max(len(payload[i * cell : (i + 1) * cell]), 1)
        for i in range(64)
    ]
    mean = sum(cells) / 64
    bits = 0
    for i, c in enumerate(cells):
        if c > mean:
            bits |= 1 << i
    # two's-complement wrap: column type is signed int64 (Arrow rejects
    # uint64 values above 2^63-1); XOR/bit_count are sign-agnostic
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def phash_duplicates(
    media: DataFrame, *, max_hamming: int = 4, fake_decode: bool = False, scope=None
) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash: compute the
    64-bit pHash per asset (mapInPandas, Arrow-batched), band the hash
    into four 16-bit keys, and pair assets sharing a band whose full
    Hamming distance <= max_hamming — the SimHash/LSH banding trick
    applied to images (a pair within distance 4 must agree exactly on
    at least one of 4 bands). One shuffle on the band key; the payload
    never travels past the hash stage.

    A pair agreeing on several bands collides once per shared band;
    only the FIRST shared band's collision survives — whether an
    earlier band matched is read straight off the pair's hash XOR
    (its 16-bit slice is zero), a map-side filter on the join output,
    so no pair-level `.distinct()` shuffle (cf. the minhash path's
    `_first_collision_candidates`, which needs prefix arrays because
    its band keys are lossy hashes; here both full hashes are in the
    row)."""
    from collections.abc import Iterator as _It

    def op(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for b in batches:
            out = pd.DataFrame(
                {
                    "asset_id": b["asset_id"],
                    "phash": [
                        phash64(bytes(p) if p is not None else b"", fake=fake_decode)
                        for p in b["payload"]
                    ],
                }
            )
            yield out

    imgs = media.filter(F.col("media_type") == "image")
    hashed = imgs.mapInPandas(op, "asset_id long, phash long")
    banded = hashed.select(
        "asset_id",
        "phash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("phash"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select(
        "asset_id", "phash", F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )
    from tera_spark.functions.cache import materialize

    banded = materialize(banded, scope)  # self-join: decode+hash once, not twice
    a, b2 = banded.alias("a"), banded.alias("b")
    xor = F.col("a.phash").bitwiseXOR(F.col("b.phash"))

    def band_differs(j: int):
        return F.shiftrightunsigned(xor, j * 16).bitwiseAND(F.lit(0xFFFF)) != 0

    first_shared = F.when(F.col("band") == 0, F.lit(True))
    for i in range(1, 4):
        cond = band_differs(0)
        for j in range(1, i):
            cond = cond & band_differs(j)
        first_shared = first_shared.when(F.col("band") == i, cond)
    return (
        a.join(b2, ["band", "key"])
        .filter((F.col("a.asset_id") < F.col("b.asset_id")) & first_shared)
        .select(
            F.col("a.asset_id").alias("id_a"),
            F.col("b.asset_id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# --- deterministic real-media synthesis ---------------------------------
# Fixture generators for the oracle gate: REAL PNG/WAV containers whose
# content is a closed-form function of table columns, so a SQL oracle
# can predict every decode-derived value without being able to (or
# needing to) parse the container itself. The formulas below are the
# contract shared with the oracle SQL in queries/llmops.py.

PNG_W = "8 + (id % 9)"  # oracle formula, id = doc_id
PNG_H = "8 + (n % 7)"  # n = n_chars
PNG_PIX = "(id * 131 + i * 17) % 256"  # i = row-major pixel index
WAV_RATE = "8000 * (1 + id % 3)"
WAV_N = "64 + (n % 128)"
WAV_SAMPLE = "((id * 7 + i * 13) % 2048 - 1024) * 16"


def synth_png_media(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    seed_col: str | None = None,
) -> DataFrame:
    """Encode one real grayscale PNG per row: dimensions and pixels
    from the PNG_* formulas above. mapInPandas (Arrow-batched), so the
    encode stage has the same plumbing as a production ingest.
    ``seed_col`` (default: the id) drives the formulas — point several
    ids at one seed to plant identical images (near-dup fixtures)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for sid, n in zip(pdf["seed"], pdf["n"]):
                sid, n = int(sid), int(n)
                w, h = 8 + sid % 9, 8 + n % 7
                px = bytes((sid * 131 + i * 17) % 256 for i in range(w * h))
                payloads.append(encode_png_gray(w, h, px))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "media_type": "image",
                    "payload": payloads,
                    "meta": [None] * len(pdf),
                }
            )

    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(size_col).alias("n"),
        F.col(seed_col if seed_col else id_col).alias("seed"),
    )
    return base.mapInPandas(op, MEDIA_SCHEMA)


# GIF fixture formulas (see synth_gif_media): GIF is LOSSLESS, so the
# fixture content needs no block-constant trick — every pixel is the
# closed-form GIF_PIX formula and decodes back exactly (replicated to
# R=G=B by the grayscale palette).
GIF_W = "6 + (id % 11)"
GIF_H = "5 + (n % 9)"
GIF_PIX = "(id * 89 + i * 23) % 256"  # i = row-major pixel index


def synth_gif_media(
    docs: DataFrame, *, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """Encode one real single-frame GIF per row (GIF_* formulas) —
    same Arrow-batched plumbing as synth_png_media."""
    from tera_spark.operators.gif import encode_gif_gray

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for sid, n in zip(pdf["id"], pdf["n"]):
                sid, n = int(sid), int(n)
                w, h = 6 + sid % 11, 5 + n % 9
                px = bytes((sid * 89 + i * 23) % 256 for i in range(w * h))
                payloads.append(encode_gif_gray(w, h, px))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "media_type": "image",
                    "payload": payloads,
                    "meta": [None] * len(pdf),
                }
            )

    base = docs.select(F.col(id_col).alias("id"), F.col(size_col).alias("n"))
    return base.mapInPandas(op, MEDIA_SCHEMA)


# JPEG fixture formulas (see synth_jpeg_media): dimensions are block
# multiples and every 8×8 block is CONSTANT, so the baseline codec
# round-trips bit-exactly (DC-only blocks under the flat quant table —
# operators/jpeg.py module docstring) and a SQL oracle can predict the
# decoded plane without parsing JPEG. Odd ids emit 4:2:0 COLOR with
# flat 128 chroma (BT.601 then yields R=G=B=Y exactly), covering the
# multi-component + subsampling + color-convert decode path.
JPEG_W = "8 * (1 + id % 3)"
JPEG_H = "8 * (1 + n % 2)"
JPEG_BLOCK = "(id * 37 + b * 29) % 256"  # b = row-major block index
JPEG_CHANNELS = "1 if id % 2 == 0 else 3"


def synth_webp_media(
    docs: DataFrame, *, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """Encode one real WebP-lossless (VP8L) file per row: grayscale
    ramp content v(i) = (id*31 + i*17) % 256 as RGBA (v,v,v,255),
    rotating the fixture encoder by id % 4 — flat literals,
    SUBTRACT_GREEN transform, LZ77 left-copy runs, COLOR_INDEXING
    palette — so the driver row exercises four distinct decoder paths.
    VP8L is lossless, so one closed-form oracle covers all four."""
    from tera_spark.operators.vp8l import (
        encode_vp8l,
        encode_vp8l_palette,
        encode_vp8l_runs,
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for sid, n in zip(pdf["id"], pdf["n"]):
                sid, n = int(sid), int(n)
                w, h = 5 + sid % 9, 4 + n % 7
                px = bytearray()
                for i in range(w * h):
                    v = (sid * 31 + i * 17) % 256
                    px += bytes((v, v, v, 255))
                raw = bytes(px)
                variant = sid % 4
                if variant == 0:
                    payloads.append(encode_vp8l(w, h, raw))
                elif variant == 1:
                    payloads.append(encode_vp8l(w, h, raw, subtract_green=True))
                elif variant == 2:
                    payloads.append(encode_vp8l_runs(w, h, raw))
                else:
                    payloads.append(encode_vp8l_palette(w, h, raw))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "media_type": "image",
                    "payload": payloads,
                    "meta": [None] * len(pdf),
                }
            )

    base = docs.select(F.col(id_col).alias("id"), F.col(size_col).alias("n"))
    return base.mapInPandas(op, MEDIA_SCHEMA)


def synth_jpeg_media(
    docs: DataFrame, *, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """Encode one real baseline JPEG per row (JPEG_* formulas):
    grayscale for even ids, 4:2:0 color with flat chroma for odd ids.
    Same Arrow-batched plumbing as synth_png_media."""
    from tera_spark.operators.jpeg import encode_jpeg_gray, encode_jpeg_ycbcr420

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for sid, n in zip(pdf["id"], pdf["n"]):
                sid, n = int(sid), int(n)
                w, h = 8 * (1 + sid % 3), 8 * (1 + n % 2)
                wb = w // 8
                px = bytearray(w * h)
                for by in range(h // 8):
                    for bx in range(wb):
                        v = (sid * 37 + (by * wb + bx) * 29) % 256
                        for yy in range(8):
                            row0 = (by * 8 + yy) * w + bx * 8
                            px[row0 : row0 + 8] = bytes([v] * 8)
                if sid % 2 == 0:
                    payloads.append(encode_jpeg_gray(w, h, bytes(px)))
                else:
                    payloads.append(encode_jpeg_ycbcr420(w, h, bytes(px)))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "media_type": "image",
                    "payload": payloads,
                    "meta": [None] * len(pdf),
                }
            )

    base = docs.select(F.col(id_col).alias("id"), F.col(size_col).alias("n"))
    return base.mapInPandas(op, MEDIA_SCHEMA)


# µ-law fixture formulas (see synth_mulaw_media): code bytes come
# straight from the closed form; the oracle replays the G.711
# expansion arithmetic (u = 255-c; amp = ((u%16)*8+132)*2^((u%128)//16)
# - 132) without parsing RIFF.
MULAW_N = "50 + (n % 100)"
MULAW_CODE = "(id * 31 + i * 7) % 256"


def synth_mulaw_media(
    docs: DataFrame, *, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """Encode one real G.711 µ-law WAV per row (MULAW_* formulas)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, n in zip(pdf["id"], pdf["n"]):
                did, n = int(did), int(n)
                cnt = 50 + n % 100
                codes = bytes((did * 31 + i * 7) % 256 for i in range(cnt))
                payloads.append(encode_wav_mulaw(8000, codes))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "media_type": "audio",
                    "payload": payloads,
                    "meta": [None] * len(pdf),
                }
            )

    base = docs.select(F.col(id_col).alias("id"), F.col(size_col).alias("n"))
    return base.mapInPandas(op, MEDIA_SCHEMA)


def synth_wav_media(docs: DataFrame, *, id_col: str = "doc_id", size_col: str = "n_chars") -> DataFrame:
    """Encode one real mono PCM16 WAV per row (WAV_* formulas)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, n in zip(pdf["id"], pdf["n"]):
                did, n = int(did), int(n)
                rate = 8000 * (1 + did % 3)
                cnt = 64 + n % 128
                samples = [((did * 7 + i * 13) % 2048 - 1024) * 16 for i in range(cnt)]
                payloads.append(encode_wav_pcm16(rate, samples))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "media_type": "audio",
                    "payload": payloads,
                    "meta": [None] * len(pdf),
                }
            )

    base = docs.select(F.col(id_col).alias("id"), F.col(size_col).alias("n"))
    return base.mapInPandas(op, MEDIA_SCHEMA)


# ---------------------------------------------------------------- MP3

# Fixture formulas (id = doc_id, n = n_chars, i = frame index) — the
# oracle replays these in SQL, so a parser bug cannot cancel an
# encoder bug:
MP3_FRAMES = "30 + (n % 40)"
MP3_SR_IDX = "id % 3"  # -> [44100, 48000, 32000]
MP3_BR_IDX = "1 + ((id + i*3) % 14) if id % 2 == 0 else 1 + (id % 14)"
MP3_PAD = "i % 2"
MP3_ID3V2 = "3 * (id % 17) payload bytes unless id % 3 == 0 (no tag)"
MP3_ID3V1 = "id % 5 == 0"


def synth_mp3_media(
    docs: DataFrame, *, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """Encode one real MPEG-1 Layer III stream per row (MP3_* formulas):
    even ids are VBR with an encoder-standard Xing tag, odd ids CBR
    with an Info tag; ID3v2 prefix and ID3v1 trailer presence vary by
    id so the parser's tag handling is exercised across the corpus."""
    from tera_spark.operators.mp3 import encode_mp3

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, n in zip(pdf["id"], pdf["n"]):
                did, n = int(did), int(n)
                nf = 30 + n % 40
                vbr = did % 2 == 0
                frames = [
                    (1 + ((did + i * 3) % 14) if vbr else 1 + (did % 14), i % 2)
                    for i in range(nf)
                ]
                payloads.append(
                    encode_mp3(
                        frames,
                        did % 3,
                        id3v2_payload=None if did % 3 == 0 else 3 * (did % 17),
                        id3v1=did % 5 == 0,
                        vbr_tag=b"Xing" if vbr else b"Info",
                    )
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "media_type": "audio",
                    "payload": payloads,
                    "meta": [None] * len(pdf),
                }
            )

    base = docs.select(F.col(id_col).alias("id"), F.col(size_col).alias("n"))
    return base.mapInPandas(op, MEDIA_SCHEMA)


MP3_META_SCHEMA = (
    "asset_id long, n_bytes long, n_frames long, sample_rate int, "
    "duration_ms long, mode string, avg_kbps long, id3v2_bytes long, "
    "has_id3v1 int, vbr_tag string"
)


def extract_mp3_metadata(media: DataFrame, *, on_error: str = "fail") -> DataFrame:
    """mapInPandas MP3 container-metadata extraction (operators/mp3.py
    frame-header walk) — same partition-preserving Arrow-batch shape
    as the image path; payloads never cross a shuffle. ``on_error=
    'quarantine'`` maps TYPED parse errors to n_frames = -1 rows
    instead of failing the task (crawl-garbage policy, mirroring
    extract_features)."""
    from tera_spark.operators.mp3 import parse_mp3

    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be fail|quarantine, got {on_error!r}")

    _bad = {
        "n_frames": -1, "sample_rate": 0, "duration_ms": 0, "mode": "",
        "avg_kbps": 0, "id3v2_bytes": 0, "has_id3v1": False, "vbr_tag": "",
    }

    def parse_or_quarantine(b: bytes) -> dict:
        if on_error == "fail":
            return parse_mp3(b)
        try:
            return parse_mp3(b)
        except (ValueError, NotImplementedError, EOFError):
            return _bad

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"].apply(lambda b: bytes(b) if b is not None else b"")
            meta = payloads.apply(parse_or_quarantine)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": payloads.apply(len).astype("int64"),
                    "n_frames": meta.apply(lambda d: d["n_frames"]).astype("int64"),
                    "sample_rate": meta.apply(lambda d: d["sample_rate"]).astype("int32"),
                    "duration_ms": meta.apply(lambda d: d["duration_ms"]).astype("int64"),
                    "mode": meta.apply(lambda d: d["mode"]),
                    "avg_kbps": meta.apply(lambda d: d["avg_kbps"]).astype("int64"),
                    "id3v2_bytes": meta.apply(lambda d: d["id3v2_bytes"]).astype("int64"),
                    "has_id3v1": meta.apply(lambda d: int(d["has_id3v1"])).astype("int32"),
                    "vbr_tag": meta.apply(lambda d: d["vbr_tag"]),
                }
            )

    from tera_spark.sources.tables import ensure_parallelism

    return ensure_parallelism(media).mapInPandas(op, schema=MP3_META_SCHEMA)


# ------------------------------------------------------------- FLAC

# Fixture formulas (id = doc_id, n = n_chars, i = sample index) — the
# oracle replays these in SQL, so a decoder bug cannot cancel an
# encoder bug:
FLAC_RATE = "[8000, 16000, 32000][id % 3]"
FLAC_COUNT = "64 + (n % 96)"
FLAC_SAMPLE = "((id*31 + i*17) % 2048) - 1024"
FLAC_SAMPLE_R = "((id*13 + i*29) % 2048) - 1024  # right channel, id % 4 == 0"
FLAC_BLOCK = 64


def synth_flac_media(
    docs: DataFrame, *, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """Encode one real FLAC stream per row (FLAC_* formulas): ids
    divisible by 4 are stereo encoded MID/SIDE, the rest mono; the
    subframe mode rotates fixed2/verbatim/fixed1/lpc by id so every
    decode path carries fixture traffic. Multi-frame (block 64)."""
    from tera_spark.operators.flac import encode_flac

    modes = ("fixed2", "verbatim", "fixed1", "lpc")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, n in zip(pdf["id"], pdf["n"]):
                did, n = int(did), int(n)
                rate = (8000, 16000, 32000)[did % 3]
                cnt = 64 + n % 96
                left = [((did * 31 + i * 17) % 2048) - 1024 for i in range(cnt)]
                mode = modes[did % 4]
                kw = {"lpc_coefs": [2, -1], "lpc_shift": 0} if mode == "lpc" else {}
                if did % 4 == 0:
                    right = [((did * 13 + i * 29) % 2048) - 1024 for i in range(cnt)]
                    payloads.append(
                        encode_flac(
                            [left, right], rate, mode=mode,
                            stereo="mid_side", block_size=FLAC_BLOCK, **kw,
                        )
                    )
                else:
                    payloads.append(
                        encode_flac([left], rate, mode=mode, block_size=FLAC_BLOCK, **kw)
                    )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "media_type": "audio",
                    "payload": payloads,
                    "meta": [None] * len(pdf),
                }
            )

    base = docs.select(F.col(id_col).alias("id"), F.col(size_col).alias("n"))
    return base.mapInPandas(op, MEDIA_SCHEMA)


FLAC_META_SCHEMA = (
    "asset_id long, n_bytes long, sample_rate int, channels int, bps int, "
    "n_samples long, n_frames long, duration_ms long, sample_sum long, "
    "energy long"
)


def extract_flac_features(media: DataFrame, *, on_error: str = "fail") -> DataFrame:
    """mapInPandas FLAC full-decode features (operators/flac.py) —
    unlike the MP3 container walk this verifies every PCM sample
    (frame CRCs + STREAMINFO MD5), so sample_sum/energy are exact
    decoded-signal statistics. Same partition-preserving Arrow-batch
    shape as the other codecs; payloads never cross a shuffle.
    ``on_error='quarantine'`` maps TYPED parse errors to
    n_samples = -1 rows (crawl-garbage policy)."""
    from tera_spark.operators.flac import parse_flac

    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be fail|quarantine, got {on_error!r}")

    _bad = {
        "sample_rate": 0, "channels": 0, "bps": 0, "n_samples": -1,
        "n_frames": 0, "duration_ms": 0, "sample_sum": 0, "energy": 0,
    }

    def parse_or_quarantine(b: bytes) -> dict:
        if on_error == "fail":
            return parse_flac(b)
        try:
            return parse_flac(b)
        except (ValueError, NotImplementedError, EOFError):
            return _bad

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"].apply(lambda b: bytes(b) if b is not None else b"")
            meta = payloads.apply(parse_or_quarantine)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": payloads.apply(len).astype("int64"),
                    "sample_rate": meta.apply(lambda d: d["sample_rate"]).astype("int32"),
                    "channels": meta.apply(lambda d: d["channels"]).astype("int32"),
                    "bps": meta.apply(lambda d: d["bps"]).astype("int32"),
                    "n_samples": meta.apply(lambda d: d["n_samples"]).astype("int64"),
                    "n_frames": meta.apply(lambda d: d["n_frames"]).astype("int64"),
                    "duration_ms": meta.apply(lambda d: d["duration_ms"]).astype("int64"),
                    "sample_sum": meta.apply(lambda d: d["sample_sum"]).astype("int64"),
                    "energy": meta.apply(lambda d: d["energy"]).astype("int64"),
                }
            )

    from tera_spark.sources.tables import ensure_parallelism

    return ensure_parallelism(media).mapInPandas(op, schema=FLAC_META_SCHEMA)


# ------------------------------------------------- container sniffing

def sniff_format_col(payload_col: str = "payload"):
    """Magic-byte container triage as a pure JVM expression Column —
    the first stage of any multimodal crawl pipeline runs before any
    Python decode, inside whole-stage codegen. Matches the containers
    this engine decodes (png/jpeg/gif/webp/flac/wav/y4m/mp3) plus
    'unknown'; RIFF is disambiguated on bytes 9-12, MP3 on either an
    ID3v2 prefix or a raw 11-bit frame sync."""
    head = F.upper(F.hex(F.expr(f"substring({payload_col}, 1, 12)")))
    riff_kind = F.upper(F.hex(F.expr(f"substring({payload_col}, 9, 4)")))
    return (
        F.when(head.startswith("89504E470D0A1A0A"), "png")
        .when(head.startswith("FFD8FF"), "jpeg")
        .when(head.startswith("474946383761") | head.startswith("474946383961"), "gif")
        .when(head.startswith("52494646") & (riff_kind == "57454250"), "webp")
        .when(head.startswith("52494646") & (riff_kind == "57415645"), "wav")
        .when(head.startswith("664C6143"), "flac")  # "fLaC"
        .when(head.startswith("595556344D504547"), "y4m")  # "YUV4MPEG"
        .when(head.startswith("494433") | head.rlike("^FF[EF]"), "mp3")
        .otherwise("unknown")
    )


def sniff_formats(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Attach a ``format`` column from the payload's magic bytes."""
    return media.withColumn("format", sniff_format_col(payload_col))


# --------------------------------------- audio fingerprint / scene cuts

def audio_fingerprints(media: DataFrame, *, window: int = 16) -> DataFrame:
    """Time-domain audio fingerprint over REAL decoded samples: the
    stream is cut into fixed windows, each window's absolute-amplitude
    energy summed, and the sign of each adjacent energy delta packed
    into one integer (bit k set iff window k+1 is louder than window
    k) — the classic energy-contour hash that survives volume scaling
    direction-wise and makes near-identical clips collide. Capped at
    63 deltas so the hash stays one long. Map-only mapInPandas; the
    PCM never crosses a shuffle."""
    if window < 1:
        raise ValueError("window must be >= 1")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"].apply(lambda b: bytes(b) if b is not None else b"")
            dec = payloads.apply(decode_audio)

            def fp(d: dict) -> tuple[int, int, int]:
                s = d["samples"]
                nw = len(s) // window
                e = [
                    sum(abs(x) for x in s[k * window:(k + 1) * window])
                    for k in range(nw)
                ]
                bits = 0
                for k in range(min(nw - 1, 63)):
                    if e[k + 1] > e[k]:
                        bits |= 1 << k
                return nw, bits, sum(e)

            trip = dec.apply(fp)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_windows": trip.apply(lambda t: t[0]).astype("int64"),
                    "fp": trip.apply(lambda t: t[1]).astype("int64"),
                    "energy_sum": trip.apply(lambda t: t[2]).astype("int64"),
                }
            )

    from tera_spark.sources.tables import ensure_parallelism

    return ensure_parallelism(media).mapInPandas(
        op, schema="asset_id long, n_windows long, fp long, energy_sum long"
    )


def scene_cuts(media: DataFrame, *, threshold: int = 100) -> DataFrame:
    """Shot-boundary detection over REAL decoded Y4M frames: a cut is
    any frame whose mean-luma jump from the previous frame exceeds
    ``threshold`` (integer-exact: |Σluma_f − Σluma_{f−1}| >
    threshold·w·h, no float mean). The decode and the frame diff both
    happen inside one Arrow batch per asset — frames never shuffle;
    only (n_frames, n_cuts, first_cut) leave the task."""
    from tera_spark.operators.video import decode_y4m

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"].apply(lambda b: bytes(b) if b is not None else b"")

            def cuts(b: bytes) -> tuple[int, int, int]:
                v = _typed_decode("Y4M", decode_y4m, b)
                w, h = v["width"], v["height"]
                sums = [sum(v["frames"][i]) for i in range(v["n_frames"])]
                cut_frames = [
                    f
                    for f in range(1, len(sums))
                    if abs(sums[f] - sums[f - 1]) > threshold * w * h
                ]
                return len(sums), len(cut_frames), cut_frames[0] if cut_frames else -1

            trip = payloads.apply(cuts)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_frames": trip.apply(lambda t: t[0]).astype("int64"),
                    "n_cuts": trip.apply(lambda t: t[1]).astype("int64"),
                    "first_cut": trip.apply(lambda t: t[2]).astype("int64"),
                }
            )

    from tera_spark.sources.tables import ensure_parallelism

    return ensure_parallelism(media).mapInPandas(
        op, schema="asset_id long, n_frames long, n_cuts long, first_cut long"
    )


XCONT_W = "8 + (id % 5)"
XCONT_H = "8 + (n % 3)"
XCONT_PIX = "(id*19 + i*23) % 256"  # i = row-major pixel index


def synth_cross_container_media(
    docs: DataFrame, *, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """Encode the SAME gray plane (XCONT_* formulas) three times per
    row — PNG, GIF, and WebP-lossless. All three containers are
    lossless, so their decoded pixels must be identical; any decoder
    that drifts by one pixel value splits the per-doc phash cluster.
    Dimensions are kept under 128 px so the aHash falls in its
    cell=1 regime (bit i compares pixel i to the 64-pixel mean) and
    a SQL oracle can replay every hash bit exactly."""
    from tera_spark.operators.gif import encode_gif_gray
    from tera_spark.operators.vp8l import encode_vp8l

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, containers, payloads = [], [], []
            for did, n in zip(pdf["id"], pdf["n"]):
                did, n = int(did), int(n)
                w, h = 8 + did % 5, 8 + n % 3
                px = bytes((did * 19 + i * 23) % 256 for i in range(w * h))
                rgba = b"".join(bytes((v, v, v, 255)) for v in px)
                for cont, payload in (
                    ("png", encode_png_gray(w, h, px)),
                    ("gif", encode_gif_gray(w, h, px)),
                    ("webp", encode_vp8l(w, h, rgba)),
                ):
                    ids.append(did)
                    containers.append(cont)
                    payloads.append(payload)
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "media_type": "image",
                    "payload": payloads,
                    "meta": [{"container": c} for c in containers],
                }
            )

    base = docs.select(F.col(id_col).alias("id"), F.col(size_col).alias("n"))
    return base.mapInPandas(op, MEDIA_SCHEMA)


def phash_df(media: DataFrame, *, fake_decode: bool = False) -> DataFrame:
    """Per-asset perceptual hash (real decode) — the hash stage of
    phash_duplicates exposed standalone; payloads never shuffle."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "asset_id": b["asset_id"],
                    "container": b["meta"].apply(
                        lambda m: (m or {}).get("container", "")
                    ),
                    "phash": [
                        phash64(bytes(p) if p is not None else b"", fake=fake_decode)
                        for p in b["payload"]
                    ],
                }
            )

    from tera_spark.sources.tables import ensure_parallelism

    return ensure_parallelism(media).mapInPandas(
        op, "asset_id long, container string, phash long"
    )


EXIF_ORIENT = "1 + (id % 8)"
EXIF_BYTE_ORDER = "'MM' if id % 3 == 0 else 'II'"
EXIF_GPS = "present unless id % 5 == 0; ref N/S by id % 2; lat = (id%90, n%60, (id*7)%6000 centi-sec)"


def synth_jpeg_exif_media(
    docs: DataFrame, *, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """One real grayscale baseline JPEG per row (JPEG block formulas)
    with a real EXIF APP1 inserted (EXIF_* formulas) — byte order,
    orientation, and GPS presence/coordinates all vary by id so the
    audit walk is exercised across both endiannesses and the
    no-location case."""
    from tera_spark.operators.exif import encode_exif_app1, insert_exif
    from tera_spark.operators.jpeg import encode_jpeg_gray

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, n in zip(pdf["id"], pdf["n"]):
                did, n = int(did), int(n)
                w, h = 8 * (1 + did % 3), 8 * (1 + n % 2)
                wb = w // 8
                px = bytearray(w * h)
                for by in range(h // 8):
                    for bx in range(wb):
                        v = (did * 37 + (by * wb + bx) * 29) % 256
                        for yy in range(8):
                            row0 = (by * 8 + yy) * w + bx * 8
                            px[row0 : row0 + 8] = bytes([v] * 8)
                app1 = encode_exif_app1(
                    orientation=1 + did % 8,
                    byte_order="MM" if did % 3 == 0 else "II",
                    gps=None
                    if did % 5 == 0
                    else (
                        "N" if did % 2 == 0 else "S",
                        did % 90,
                        n % 60,
                        (did * 7) % 6000,
                    ),
                )
                payloads.append(insert_exif(encode_jpeg_gray(w, h, bytes(px)), app1))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "media_type": "image",
                    "payload": payloads,
                    "meta": [None] * len(pdf),
                }
            )

    base = docs.select(F.col(id_col).alias("id"), F.col(size_col).alias("n"))
    return base.mapInPandas(op, MEDIA_SCHEMA)


EXIF_AUDIT_SCHEMA = (
    "asset_id long, orientation int, byte_order string, has_gps int, "
    "gps_ref string, lat_deg int, lat_min int, lat_sec_centi int, "
    "stripped_has_exif int, stripped_pixel_sum long"
)


def extract_exif_audit(media: DataFrame) -> DataFrame:
    """EXIF GPS audit + strip verification in one Arrow-batched pass:
    parse the tag block, strip every EXIF APP1, re-audit the stripped
    bytes (must carry no EXIF), and decode the stripped image (its
    pixel plane must be untouched — the pixel_sum is what the oracle
    pins). The image-PII analog of text_pii_redaction: location data
    leaves the corpus, pixels provably do not change."""
    from tera_spark.operators.exif import parse_exif, strip_exif
    from tera_spark.operators.jpeg import decode_jpeg

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                p = bytes(p) if p is not None else b""
                m = _typed_decode("EXIF", parse_exif, p)
                stripped = _typed_decode("EXIF", strip_exif, p)
                m2 = _typed_decode("EXIF", parse_exif, stripped)
                d = _typed_decode("JPEG", decode_jpeg, stripped)
                rows.append(
                    (
                        int(aid), m["orientation"], m["byte_order"],
                        int(m["has_gps"]), m["gps_ref"], m["lat_deg"],
                        m["lat_min"], m["lat_sec_centi"], int(m2["has_exif"]),
                        sum(d["pixels"]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "orientation", "byte_order", "has_gps",
                    "gps_ref", "lat_deg", "lat_min", "lat_sec_centi",
                    "stripped_has_exif", "stripped_pixel_sum",
                ],
            )

    from tera_spark.sources.tables import ensure_parallelism

    return ensure_parallelism(media).mapInPandas(op, schema=EXIF_AUDIT_SCHEMA)
