"""LLM-training-pipeline operators over documents/embeddings —
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard),
similarity search (brute-force cosine top-k, IVF), text analysis
(language-ID, quality, tokens, fingerprint) and multimodal plumbing.

Oracle SQL strings are *generated from the same constants* as the
Spark expressions (tera_spark/functions/text.py), so MinHash/SimHash
signatures compare bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tera_spark.functions import text as X
from tera_spark.queries import query
from tera_spark.sources.tables import load


@query(
    "dedup_exact_hash",
    """
    SELECT md5(text) AS text_hash,
           cast(count(*) AS bigint) AS n_copies,
           cast(min(doc_id) AS bigint) AS keeper
    FROM documents GROUP BY md5(text) HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    from tera_spark.operators.dedup import exact_duplicates

    docs = load(spark, sf, "documents")
    return exact_duplicates(docs).select("text_hash", "n_copies", "keeper")


@query(
    "dedup_minhash_lsh_pairs",
    f"""
    WITH sigs AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM documents
    )
    SELECT DISTINCT cast(a.doc_id AS bigint) AS id_a, cast(b.doc_id AS bigint) AS id_b
    FROM sigs a JOIN sigs b USING (bucket)
    WHERE a.doc_id < b.doc_id
    """,
)
def dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    from tera_spark.operators.dedup import minhash_lsh_pairs

    docs = load(spark, sf, "documents")
    return minhash_lsh_pairs(docs).select(
        F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b")
    )


@query(
    "dedup_simhash",
    f"""
    SELECT cast(doc_id AS bigint) AS doc_id, {X.sql_simhash('text')} AS simhash
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    from tera_spark.operators.dedup import simhash_fingerprints

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    return simhash_fingerprints(docs).select(F.col("id").alias("doc_id"), "simhash")


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH base AS (
      SELECT doc_id, length(text) // 50 AS bkt,
             list_distinct({X.sql_shingles('text')}) AS sh
      FROM documents
    )
    SELECT cast(a.doc_id AS bigint) AS id_a, cast(b.doc_id AS bigint) AS id_b,
           round(len(list_intersect(a.sh, b.sh))::double /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM base a JOIN base b USING (bkt)
    WHERE a.doc_id < b.doc_id
      AND round(len(list_intersect(a.sh, b.sh))::double /
                (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.2
    """,
)
def dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    from tera_spark.operators.dedup import jaccard_pairs

    docs = load(spark, sf, "documents")
    return jaccard_pairs(
        docs,
        bucket_expr=F.floor(F.length("text") / 50),
        threshold=0.2,
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


_SQL_DOT = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "{a}[i]::double * {b}[i]::double), (x, y) -> x + y)"
)


def _sql_cos(a: str, b: str) -> str:
    dot = _SQL_DOT.format(a=a, b=b)
    na = _SQL_DOT.format(a=a, b=a)
    nb = _SQL_DOT.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


@query(
    "ann_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
    sims AS (
      SELECT q.q_id, v.vec_id AS v_id,
             round({_sql_cos('q.q_vec', 'v.embedding')}, 6) AS sim
      FROM embeddings v, q WHERE v.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, v_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, v_id) AS rank
      FROM sims
    )
    SELECT cast(q_id AS bigint) AS q_id, cast(v_id AS bigint) AS v_id, sim,
           cast(rank AS bigint) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    from tera_spark.operators.similarity import cosine_topk

    emb = load(spark, sf, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query(
    "ann_ivf_near_pairs",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS c_vec FROM embeddings WHERE vec_id < 16),
    assigned AS (
      SELECT v.vec_id AS id, v.embedding AS vec,
             arg_min(c.cid, list_reduce(list_transform(range(1, 65), i ->
               (v.embedding[i]::double - c.c_vec[i]::double) *
               (v.embedding[i]::double - c.c_vec[i]::double)), (x, y) -> x + y)) AS cluster
      FROM embeddings v, c GROUP BY v.vec_id, v.embedding
    )
    SELECT cast(a.cluster AS bigint) AS cluster,
           cast(a.id AS bigint) AS id_a, cast(b.id AS bigint) AS id_b,
           round({_sql_cos('a.vec', 'b.vec')}, 6) AS sim
    FROM assigned a JOIN assigned b USING (cluster)
    WHERE a.id < b.id AND round({_sql_cos('a.vec', 'b.vec')}, 6) >= 0.3
    """,
)
def ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    from tera_spark.operators.similarity import ivf_near_pairs

    emb = load(spark, sf, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_near_pairs(emb, cents, threshold=0.3, cid_col="centroid_id").select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "sim",
    )


def _sql_marker_hits(words: list[str]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return (
        f"len(list_filter({X.sql_tokens('text')}, t -> lower(t) IN ({quoted})))"
    )


def _sql_lang_case() -> str:
    from tera_spark.operators.textops import LANG_MARKERS

    hits = {code: _sql_marker_hits(ws) for code, ws in sorted(LANG_MARKERS.items())}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    whens = " ".join(
        f"WHEN {best} > 0 AND {hits[code]} = {best} THEN '{code}'" for code in sorted(hits)
    )
    return f"(CASE {whens} ELSE 'und' END)"


@query(
    "text_language_id",
    f"""
    SELECT cast(doc_id AS bigint) AS doc_id, {_sql_lang_case()} AS lang_guess
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def text_langid(spark: SparkSession, sf: str) -> DataFrame:
    from tera_spark.operators.textops import language_id
    from tera_spark.sources.tables import ensure_parallelism

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 3 == 0)
    return ensure_parallelism(docs).select(
        "doc_id", language_id(F.col("text")).alias("lang_guess")
    )


def _t6(expr: str) -> str:
    """floor-truncation to 6 decimals — bit-stable vs Spark (see
    textops.quality_features)."""
    return f"(floor(({expr}) * 1000000)::double / 1000000)"


_SQL_STOPS = "'the','and','of','to','a','in','is','for','on','with'"
_SQL_NTOK = f"len({X.sql_tokens('text')})"
_SQL_ALPHA = _t6(
    "length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::double / greatest(length(text), 1)"
)
_SQL_STOPR = _t6(
    f"len(list_filter({X.sql_tokens('text')}, x -> lower(x) IN ({_SQL_STOPS})))::double"
    f" / greatest({_SQL_NTOK}, 1)"
)


@query(
    "text_quality_score",
    f"""
    SELECT cast(doc_id AS bigint) AS doc_id,
      cast({_SQL_NTOK} AS bigint) AS n_tokens,
      {_SQL_ALPHA} AS alpha_ratio,
      {_SQL_STOPR} AS stop_ratio,
      {_t6("length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::double / greatest(length(text), 1)")} AS punct_ratio,
      {_t6(f"(length(text) - {_SQL_NTOK} + 1)::double / greatest({_SQL_NTOK}, 1)")} AS mean_tok_len,
      {_t6(f"least({_SQL_NTOK}::double / 100.0, 1.0) * 0.4 + {_SQL_STOPR} * 0.3 + {_SQL_ALPHA} * 0.3")} AS quality_score
    FROM documents WHERE doc_id % 4 = 0
    """,
)
def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    from tera_spark.operators.textops import quality_features

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 4 == 0)
    return quality_features(docs)


_SQL_GTOK = X.sql_tokens("text")
_SQL_GWC = f"len({_SQL_GTOK})"
_SQL_GMWL = _t6(
    f"list_sum(list_transform({_SQL_GTOK}, x -> length(x)))::double"
    f" / greatest({_SQL_GWC}, 1)"
)
_SQL_GSYM = _t6(
    "((length(text) - length(replace(text, '#', '')))"
    " + (length(text) - length(replace(text, '...', ''))) / 3)::double"
    f" / greatest({_SQL_GWC}, 1)"
)
_SQL_GALPHA = _t6(
    f"len(list_filter({_SQL_GTOK}, x -> regexp_matches(x, '[a-zA-Z]')))::double"
    f" / greatest({_SQL_GWC}, 1)"
)
_SQL_GSTOPS = (
    f"len(list_intersect(list_distinct(list_transform({_SQL_GTOK}, x -> lower(x))),"
    " ['the','be','to','of','and','that','have','with']))"
)


@query(
    "text_gopher_rules",
    f"""
    WITH m AS (
      SELECT cast(doc_id AS bigint) AS doc_id,
             cast({_SQL_GWC} AS bigint) AS n_words,
             {_SQL_GMWL} AS mean_word_len,
             {_SQL_GSYM} AS symbol_ratio,
             {_SQL_GALPHA} AS alpha_word_ratio,
             cast({_SQL_GSTOPS} AS int) AS n_required_stops
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
           n_required_stops,
           cast(n_words >= 50 AND n_words <= 100000 AS int) AS pass_word_count,
           cast(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS int) AS pass_mean_word_len,
           cast(symbol_ratio <= 0.1 AS int) AS pass_symbol_ratio,
           cast(alpha_word_ratio >= 0.8 AS int) AS pass_alpha_words,
           cast(n_required_stops >= 2 AS int) AS pass_stop_words,
           cast(n_words >= 50 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8
                AND n_required_stops >= 2 AS int) AS keep
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """The published Gopher document-quality filters (word-count,
    mean-word-length, symbol ratio, alphabetic-word fraction, required
    stop words) with per-rule pass flags for filter audits — the
    recognizable curation classic next to the composite
    text_quality_score. Map-only expression pipeline, zero shuffles,
    any corpus size."""
    from tera_spark.operators.textops import gopher_rules

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 3 == 1)
    return gopher_rules(docs)


@query(
    "doc_fingerprint_rolling",
    f"""
    SELECT cast(doc_id AS bigint) AS doc_id,
           {X.sql_fingerprint('text')} AS fp,
           md5(text) AS exact_hash
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    from tera_spark.operators.textops import doc_fingerprints

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    return doc_fingerprints(docs)


@query(
    "multimodal_features",
    """
    WITH m AS (
      SELECT doc_id AS id, 8 + (doc_id % 9) AS w, 8 + (n_chars % 7) AS h
      FROM documents WHERE doc_id % 6 = 0
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(w AS int) AS width, cast(h AS int) AS height,
           cast(w * h AS bigint) AS n_pixels,
           cast(sum((id * 131 + i * 17) % 256) AS bigint) AS pixel_sum
    FROM m, unnest(range(0, w * h)) AS u(i)
    GROUP BY id, w, h
    """,
)
def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode end-to-end: one genuine grayscale PNG per
    document (stdlib zlib/struct encoder, content a closed-form
    function of (doc_id, n_chars) — operators/multimodal.py PNG_*),
    decoded back by the stdlib PNG decoder inside the Arrow-batched
    mapInPandas feature extractor. The oracle predicts width/height/
    pixel_sum from the formulas — it never parses the container, so a
    decoder bug cannot cancel out an encoder bug on the Spark side
    (pixel_sum pins the whole unfiltered pixel plane)."""
    from tera_spark.operators.multimodal import extract_features, synth_png_media

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 6 == 0)
    feats = extract_features(synth_png_media(docs))
    return feats.select(
        "asset_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "n_pixels",
        "pixel_sum",
    )


@query(
    "multimodal_mulaw_audio",
    """
    WITH m AS (
      SELECT doc_id AS id, 50 + (n_chars % 100) AS cnt
      FROM documents WHERE doc_id % 11 = 0
    ),
    codes AS (
      SELECT id, cnt, 255 - ((id * 31 + i * 7) % 256) AS u
      FROM m, unnest(range(0, cnt)) AS t(i)
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(58 + cnt AS bigint) AS n_bytes,
           cast(8000 AS int) AS sample_rate,
           cast(cnt AS bigint) AS n_samples,
           cast((cnt * 1000) // 8000 AS bigint) AS duration_ms,
           cast(sum(((u % 16) * 8 + 132) * (1 << ((u % 128) // 16)) - 132)
             AS bigint) AS amp_sum
    FROM codes GROUP BY id, cnt
    """,
)
def multimodal_mulaw_audio(spark: SparkSession, sf: str) -> DataFrame:
    """REAL G.711 µ-law decode end-to-end: one genuine format-tag-7 WAV
    per document (manual RIFF container — 18-byte fmt + fact chunk, so
    n_bytes = 58 + codes; code bytes the closed-form MULAW_* formulas),
    expanded by the ITU G.711 arithmetic inside the Arrow-batched
    extractor. The oracle replays the same expansion as integer SQL
    (sign only flips, so |sample| = ((u%16)*8+132)·2^((u%128)//16)−132
    with u = 255−code) — every amp_sum is exact."""
    from tera_spark.operators.multimodal import (
        extract_audio_features,
        synth_mulaw_media,
    )

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 11 == 0)
    return extract_audio_features(synth_mulaw_media(docs))


@query(
    "multimodal_video_frames",
    """
    WITH m AS (
      SELECT doc_id AS id,
             8 + (doc_id % 6) AS w, 6 + (n_chars % 5) AS h,
             2 + (doc_id % 5) AS nf
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(f AS int) AS frame_idx,
           cast(w AS int) AS width, cast(h AS int) AS height,
           cast(nf AS int) AS n_frames,
           cast(30 AS int) AS fps_num,
           cast(w * h * ((id * 53 + f * 19) % 256) AS bigint) AS luma_sum
    FROM m, unnest(range(0, nf)) AS u(f)
    WHERE f % 2 = 0
    """,
)
def multimodal_video_frames(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video decode end-to-end: one genuine multi-frame Y4M clip
    per document (operators/video.py encoder — C420jpeg planar layout,
    frame content the closed-form Y4M_* formulas), frame-sampled and
    feature-extracted by extract_frames (mapInPandas: one output row
    per sampled frame, payload decoded once per task, never shuffled).
    Y4M luma planes are raw bytes (lossless), so the oracle predicts
    every sampled frame's luma_sum exactly without parsing Y4M."""
    from tera_spark.operators.multimodal import extract_frames, synth_y4m_media

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 10 == 0)
    return extract_frames(synth_y4m_media(docs), every_n=2)


@query(
    "multimodal_gif_features",
    """
    WITH m AS (
      SELECT doc_id AS id, 6 + (doc_id % 11) AS w, 5 + (n_chars % 9) AS h
      FROM documents WHERE doc_id % 8 = 0
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(w AS int) AS width, cast(h AS int) AS height,
           cast(3 * w * h AS bigint) AS n_pixels,
           cast(3 * sum((id * 89 + i * 23) % 256) AS bigint) AS pixel_sum
    FROM m, unnest(range(0, w * h)) AS u(i)
    GROUP BY id, w, h
    """,
)
def multimodal_gif_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL GIF decode end-to-end: one genuine single-frame GIF per
    document (operators/gif.py encoder, pixel content the closed-form
    GIF_* formulas), decoded back through the full LZW + palette
    pipeline in the mapInPandas extractor. GIF is lossless, so the
    oracle predicts every decoded value exactly — the grayscale
    palette replicates each value to R=G=B, hence the 3× factors on
    n_pixels and pixel_sum."""
    from tera_spark.operators.multimodal import extract_features, synth_gif_media

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 8 == 0)
    feats = extract_features(synth_gif_media(docs))
    return feats.select(
        "asset_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "n_pixels",
        "pixel_sum",
    )


@query(
    "multimodal_webp_features",
    """
    WITH m AS (
      SELECT doc_id AS id, 5 + (doc_id % 9) AS w, 4 + (n_chars % 7) AS h
      FROM documents WHERE doc_id % 6 = 0
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(w AS int) AS width, cast(h AS int) AS height,
           cast(4 * w * h AS bigint) AS n_pixels,
           cast(255 * w * h + 3 * sum((id * 31 + i * 17) % 256) AS bigint) AS pixel_sum
    FROM m, unnest(range(0, w * h)) AS u(i)
    GROUP BY id, w, h
    """,
)
def multimodal_webp_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL WebP-lossless decode end-to-end: one genuine VP8L file per
    document (operators/vp8l.py fixture encoders, rotating literal /
    SUBTRACT_GREEN / LZ77-runs / COLOR_INDEXING-palette by id), decoded
    back through the full bitstream pipeline (Huffman trees, backward
    references, inverse transforms, palette un-bundling) inside the
    mapInPandas extractor. VP8L is lossless, so the oracle predicts
    every decoded RGBA byte from the closed-form ramp: pixels decode to
    (v,v,v,255), hence 4·w·h bytes and pixel_sum = 3·Σv + 255·w·h."""
    from tera_spark.operators.multimodal import extract_features, synth_webp_media

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 6 == 0)
    feats = extract_features(synth_webp_media(docs))
    return feats.select(
        "asset_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "n_pixels",
        "pixel_sum",
    )


@query(
    "multimodal_jpeg_features",
    """
    WITH m AS (
      SELECT doc_id AS id,
             8 * (1 + doc_id % 3) AS w,
             8 * (1 + n_chars % 2) AS h,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
      FROM documents WHERE doc_id % 7 = 0
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(w AS int) AS width, cast(h AS int) AS height,
           cast(ch AS int) AS channels,
           cast(w * h * ch AS bigint) AS n_pixels,
           cast(ch * sum(64 * ((id * 37 + b * 29) % 256)) AS bigint) AS pixel_sum
    FROM m, unnest(range(0, (w // 8) * (h // 8))) AS u(b)
    GROUP BY id, w, h, ch
    """,
)
def multimodal_jpeg_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL baseline-JPEG decode end-to-end: one genuine JPEG per
    document (operators/jpeg.py encoder — grayscale for even ids,
    4:2:0 color with flat chroma for odd, content the closed-form
    JPEG_* block formulas), decoded back by the full baseline pipeline
    (Huffman → dequant → IDCT → upsample → BT.601) inside the
    mapInPandas extractor. Block-constant content under the flat quant
    table round-trips bit-exactly, so the oracle predicts every
    decoded value — width/height/channels and the pixel_sum over the
    reconstructed plane (3× the luma sum for color: flat 128 chroma
    makes R=G=B=Y exactly) — without parsing a single JPEG byte."""
    from tera_spark.operators.multimodal import extract_features, synth_jpeg_media

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 7 == 0)
    feats = extract_features(synth_jpeg_media(docs))
    ch = F.when(F.col("asset_id") % 2 == 0, F.lit(1)).otherwise(F.lit(3))
    return feats.select(
        "asset_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        ch.cast("int").alias("channels"),
        "n_pixels",
        "pixel_sum",
    )


@query(
    "multimodal_audio_features",
    """
    WITH m AS (
      SELECT doc_id AS id,
             8000 * (1 + doc_id % 3) AS rate,
             64 + (n_chars % 128) AS cnt
      FROM documents WHERE doc_id % 9 = 0
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(44 + 2 * cnt AS bigint) AS n_bytes,
           cast(rate AS int) AS sample_rate,
           cast(cnt AS bigint) AS n_samples,
           cast((cnt * 1000) // rate AS bigint) AS duration_ms,
           cast(sum(abs(((id * 7 + i * 13) % 2048 - 1024) * 16)) AS bigint) AS amp_sum
    FROM m, unnest(range(0, cnt)) AS u(i)
    GROUP BY id, rate, cnt
    """,
)
def multimodal_audio(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode end-to-end: one genuine mono PCM16 WAV per
    document (stdlib `wave` encoder, samples a closed-form function of
    (doc_id, n_chars) — operators/multimodal.py WAV_*), parsed back by
    the stdlib RIFF decoder in the mapInPandas extractor. The oracle
    predicts rate/count/duration/amp_sum from the formulas, plus the
    container size (44-byte canonical PCM header + 2 bytes/sample)."""
    from tera_spark.operators.multimodal import extract_audio_features, synth_wav_media

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 9 == 0)
    return extract_audio_features(synth_wav_media(docs))


@query(
    "multimodal_resize",
    """
    WITH m AS (
      SELECT doc_id AS id, 8 + (doc_id % 9) AS w, 8 + (n_chars % 7) AS h
      FROM documents WHERE doc_id % 6 = 0
    ),
    cells AS (
      SELECT id, (y * h // 4) * w + (x * w // 4) AS src
      FROM m, unnest(range(0, 4)) AS uy(y), unnest(range(0, 4)) AS ux(x)
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(4 AS int) AS width, cast(4 AS int) AS height,
           cast(16 AS bigint) AS n_pixels,
           cast(sum((id * 131 + src * 17) % 256) AS bigint) AS pixel_sum
    FROM cells GROUP BY id
    """,
)
def multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    """REAL decode→resize→re-encode→decode round trip: synthesized
    PNGs nearest-neighbor-downsampled to 4x4 (stdlib codec both ways,
    payloads never crossing a shuffle), then the resized PNG is decoded
    AGAIN by the feature extractor — so the oracle's predicted resized
    pixel_sum pins the encoder, the resampler, and the decoder at
    once (resized pixel (y,x) = source pixel (y*h//4, x*w//4))."""
    from tera_spark.operators.multimodal import (
        extract_features,
        resize_images,
        synth_png_media,
    )

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 6 == 0)
    resized = resize_images(synth_png_media(docs), width=4, height=4)
    feats = extract_features(
        resized.select("asset_id", "media_type", "payload", F.lit(None).alias("meta")),
    )
    return feats.select(
        "asset_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "n_pixels",
        "pixel_sum",
    )


@query(
    "multimodal_phash_dups",
    """
    WITH m AS (
      SELECT doc_id AS id,
             CASE WHEN (doc_id // 3) % 10 = 9 THEN doc_id - 3 ELSE doc_id END AS seed
      FROM documents WHERE doc_id % 3 = 0
    ),
    dims AS (
      SELECT id, seed, 8 + seed % 9 AS w, 8 + (64 + seed % 100) % 7 AS h FROM m
    ),
    geom AS (
      SELECT id, seed, w * h AS n, greatest((w * h) // 64, 1) AS cell FROM dims
    ),
    cellv AS (
      SELECT id, i,
             list_reduce(
               list_transform(range(i * cell, (i + 1) * cell),
                              p -> ((seed * 131 + p * 17) % 256)::double),
               (x, y) -> x + y
             ) / cell AS cv
      FROM geom, unnest(range(0, 64)) AS u(i)
    ),
    hashed AS (
      SELECT id,
             list(cv ORDER BY i) AS cells,
             list_reduce(list(cv ORDER BY i), (x, y) -> x + y) / 64 AS mean
      FROM cellv GROUP BY id
    ),
    bits AS (
      SELECT id, list_transform(cells, c -> CASE WHEN c > mean THEN 1 ELSE 0 END) AS bv
      FROM hashed
    ),
    banded AS (
      SELECT id, bv,
             [list_reduce(list_transform(range(0, 16), j -> bv[b * 16 + j + 1] *
                (1::bigint << j)), (x, y) -> x + y) FOR b IN range(0, 4)] AS bands
      FROM bits
    )
    SELECT cast(a.id AS bigint) AS id_a, cast(b.id AS bigint) AS id_b,
           cast(len(list_filter(range(1, 65), i -> a.bv[i] <> b.bv[i])) AS bigint)
             AS hamming
    FROM banded a JOIN banded b ON a.id < b.id
    WHERE len(list_filter(range(1, 5), j -> a.bands[j] = b.bands[j])) > 0
      AND len(list_filter(range(1, 65), i -> a.bv[i] <> b.bv[i])) <= 4
    """,
)
def multimodal_phash_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Image near-duplicate pairs over REAL PNGs: synthesized assets
    (every 10th one reusing its predecessor's pixel seed — the planted
    duplicate), pHashed from their DECODED pixels (mean-threshold 8x8
    aHash), banded into 4×16-bit keys, paired on band collision with
    Hamming <= 4. The oracle recomputes the hash from the pixel
    formulas — including the banding rule, which is semantic, not just
    an optimization: 4 bit flips spread across all 4 bands share no
    band and are correctly NOT paired. One shuffle on the band key;
    payloads never travel past the hash stage."""
    from tera_spark.operators.multimodal import phash_duplicates, synth_png_media

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 3 == 0)
    assets = docs.select(
        F.col("doc_id").alias("id"),
        F.when((F.col("doc_id") / 3).cast("long") % 10 == 9, F.col("doc_id") - 3)
        .otherwise(F.col("doc_id"))
        .alias("seed"),
    ).withColumn("n2", F.lit(64) + F.col("seed") % 100)
    media = synth_png_media(assets, id_col="id", size_col="n2", seed_col="seed")
    out = phash_duplicates(media, max_hamming=4)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


@query(
    "doc_token_stats",
    """
    SELECT doc_id,
           cast(len(string_split_regex(trim(text), '\\s+')) AS bigint) AS n_tokens,
           cast(length(text) AS bigint) AS n_chars
    FROM documents WHERE doc_id % 7 = 0
    """,
)
def doc_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 7 == 0)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "text_zipf_slope",
    """
    WITH toks AS (
      SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    freq AS (SELECT source, tok, count(*) AS cnt FROM toks GROUP BY source, tok),
    ranked AS (
      SELECT source, tok, cnt,
             row_number() OVER (PARTITION BY source ORDER BY cnt DESC, tok) AS rnk
      FROM freq
    ),
    q AS (
      SELECT source,
             cast(round(ln(rnk) * 1000000) AS bigint) AS x,
             cast(round(ln(cnt) * 1000000) AS bigint) AS y
      FROM ranked
    ),
    s AS (
      SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM q GROUP BY source
    )
    SELECT source, cast(n AS bigint) AS n_types,
           round((n::double * sxy::double - sx::double * sy::double)
                 / (n::double * sxx::double - sx::double * sx::double), 6)
             AS zipf_slope
    FROM s WHERE n >= 2
    """,
)
def text_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf exponent per ingestion source: least-squares slope of
    ln(freq) vs ln(rank) over each source's token frequency table — a
    corpus-health diagnostic (natural text tracks slope ≈ -1; spammy/
    templated sources skew shallower, truncated vocabularies steeper).
    ln values are quantized to integer micro-nats BEFORE the moment
    sums, so aggregation is associative and bit-identical on any
    engine/summation order; the closed-form slope then divides two
    deterministic doubles.

    Scale shape: moments are per (source, token) — vocabulary-sized,
    sublinear in corpus; the rank window partitions by source over
    that small relation. One token-explode pass, one vocab-sized
    shuffle, one tiny final agg."""
    from pyspark.sql import Window as W

    docs = load(spark, sf, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    freq = toks.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("source").orderBy(F.desc("cnt"), "tok")
    ranked = freq.withColumn("rnk", F.row_number().over(w))
    q = ranked.select(
        "source",
        F.round(F.log(F.col("rnk").cast("double")) * 1_000_000).cast("long").alias("x"),
        F.round(F.log(F.col("cnt").cast("double")) * 1_000_000).cast("long").alias("y"),
    )
    s = q.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    return s.filter(F.col("n") >= 2).select(
        "source",
        F.col("n").cast("long").alias("n_types"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("zipf_slope"),
    )


@query(
    "text_unigram_surprisal",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    total AS (SELECT sum(cnt)::double AS n FROM freq)
    SELECT doc_id, cast(count(*) AS bigint) AS n_tokens,
           cast(sum(floor(-ln(cnt::double / n) * 1000000)::bigint) AS bigint)
             AS nll_micro
    FROM toks JOIN freq USING (tok) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-trained unigram language-model scoring: each doc's total
    negative log-likelihood under the corpus unigram distribution —
    the perplexity-style quality filter (CCNet-shaped): unusually
    high surprisal = off-distribution/noise, unusually low =
    boilerplate. Per-token surprisal is floor-quantized to integer
    micro-nats BEFORE summing, so the aggregate is associative and
    bit-identical on any engine/summation order.

    Scale shape: the unigram table is vocabulary-sized (sublinear in
    corpus) → broadcast join onto the token stream; the corpus total
    rides in as a broadcast 1-row aggregate; one final shuffle keyed
    by doc_id. Training pass and scoring pass each touch the corpus
    once — the 100 TB version materializes freq between them."""
    docs = load(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("double").alias("n"))
    surprisal = F.floor(-F.log(F.col("cnt") / F.col("n")) * 1_000_000).cast("long")
    return (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(surprisal).cast("long").alias("nll_micro"),
        )
    )


@query(
    "dedup_repeated_ngram_spans",
    """
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                  FROM documents),
    grams AS (
      SELECT doc_id, array_to_string(t[i:i+7], ' ') AS gram
      FROM toks, unnest(range(1, greatest(len(t)-7, 0)+1)) AS u(i)
    )
    SELECT gram, cast(count(DISTINCT doc_id) AS bigint) AS n_docs,
           cast(count(*) AS bigint) AS n_occur
    FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    """,
)
def dedup_repeated_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Exact repeated-substring detection across documents: every
    8-token n-gram that occurs in >=2 distinct docs, with doc and
    occurrence counts — the candidate-span stage of suffix-style exact
    substring dedup (cf. training-data dedup practice), complementing
    MinHash (whole-doc near-dup) with span-level exact evidence.

    Scale shape: the n-gram explode is map-only (slide a window over
    the token array); ONE shuffle keyed by the gram groups all
    occurrences. Gram keys are long strings — at 100 TB, group by
    xxhash64(gram) instead and carry one example gram via min()."""
    docs = load(spark, sf, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    n = 8
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.expr("cast(array() as array<int>)"))
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occur"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "pipeline_token_packing",
    """
    WITH sized AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+'))::bigint AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           cast(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
                AS bigint) AS pack_id,
           cast(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) % 512
                AS bigint) AS start_tok
    FROM sized
    """,
)
def pipeline_token_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence-packing planner for training shards: documents fill
    ~512-token packs in deterministic (lang, doc_id) order; a doc's
    pack is the exclusive prefix-sum of token counts divided by the
    budget (streaming fill — a doc may straddle its pack boundary and
    continue into the next, exactly how fixed-length training windows
    consume a corpus).

    Scale shape: token counting is map-only; the prefix sum is one
    window partitioned by lang — parallel across strata, and at 100 TB
    the stratum key becomes (lang, shard) to bound any one window's
    partition while keeping pack ids deterministic."""
    from pyspark.sql import Window as W

    budget = 512
    docs = load(spark, sf, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return sized.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(prefix / budget).cast("long").alias("pack_id"),
        (prefix % budget).cast("long").alias("start_tok"),
    )


@query(
    "dedup_lsh_verified",
    f"""
    WITH sigs AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b USING (bucket) WHERE a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, list_distinct({X.sql_shingles('text')}) AS s FROM documents)
    SELECT cast(id_a AS bigint) AS id_a, cast(id_b AS bigint) AS id_b,
           round(len(list_intersect(sa.s, sb.s))::double /
                 (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6) AS jaccard
    FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
    WHERE round(len(list_intersect(sa.s, sb.s))::double /
                (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6) >= 0.5
    """,
)
def dedup_lsh_verified(spark: SparkSession, sf: str) -> DataFrame:
    """The production dedup composition: LSH candidate generation →
    exact-Jaccard verification over candidates only (never all pairs)."""
    from tera_spark.operators.dedup import verified_near_duplicates

    docs = load(spark, sf, "documents")
    return verified_near_duplicates(docs, threshold=0.5).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


@query(
    "dedup_lsh_storage_mode",
    f"""
    WITH sigs AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b USING (bucket) WHERE a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, list_distinct({X.sql_shingles('text')}) AS s FROM documents)
    SELECT cast(id_a AS bigint) AS id_a, cast(id_b AS bigint) AS id_b,
           round(len(list_intersect(sa.s, sb.s))::double /
                 (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6) AS jaccard
    FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
    WHERE round(len(list_intersect(sa.s, sb.s))::double /
                (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6) >= 0.5
    """,
)
def dedup_lsh_storage(spark: SparkSession, sf: str) -> DataFrame:
    """verified_near_duplicates with its fingerprint medium SIZE-CHOSEN:
    `functions/cache.materialize` persists the MinHash fingerprint and
    band-signature intermediates below the `plans.scale_gate` floor and
    writes them to Parquet at or above it — the shape that takes the
    5M-doc smoke from a 64 GB driver-heap requirement to 16 GB
    (SCALE.md §11). No caller option picks the medium any more, so this
    entry now builds the same plan as dedup_lsh_verified; it keeps its
    key and the shared oracle: the medium never changes the rows
    (tests/test_dedup_storage.py forces the Parquet branch)."""
    return dedup_lsh_verified(spark, sf)


@query(
    "dedup_embedding_cosine",
    f"""
    WITH pairs AS (
      SELECT cast(a.vec_id AS bigint) AS id_a, cast(b.vec_id AS bigint) AS id_b,
             round({_sql_cos('a.embedding', 'b.embedding')}, 6) AS sim
      FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, sim, id_a AS keeper
    FROM pairs WHERE sim >= 0.35
    """,
)
def dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection — the semantic-dedup
    member of the dedup family (exact / MinHash-LSH / SimHash / n-gram
    Jaccard / embedding-cosine). Pairs block on `label` (the coarse
    partition an upstream clusterer provides — at 100 TB the IVF
    assignment in operators/similarity.py produces it), so the
    all-pairs comparison is confined within blocks: one shuffle on the
    block key, never a global cross-join. Keeper policy: min id wins,
    mirroring exact_duplicates."""
    from tera_spark.operators.similarity import blocked_cosine_pairs

    emb = load(spark, sf, "embeddings")
    pairs = blocked_cosine_pairs(
        emb, block_col="label", threshold=0.35, id_col="vec_id", vec_col="embedding"
    )
    return pairs.select(
        "id_a", "id_b", "sim", F.col("id_a").alias("keeper")
    )


@query(
    "multimodal_frame_plan",
    """
    SELECT cast(doc_id AS bigint) AS asset_id,
           cast(unnest(range(0, (n_chars % 300) + 1, 30)) AS int) AS frame_idx
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling plan: the per-frame fan-out a distributed video
    decoder consumes, derived from typed metadata only — payload bytes
    are never read, so the plan stage is shuffle-free and prunes the
    binary column at the scan."""
    from tera_spark.operators.multimodal import frame_sample_plan

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    media = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
        F.create_map(
            F.lit("n_frames"), ((F.col("n_chars") % 300) + 1).cast("string")
        ).alias("meta"),
    )
    return frame_sample_plan(media, every_n=30).select(
        "asset_id", F.col("frame_idx").cast("int").alias("frame_idx")
    )


@query(
    "dedup_components",
    f"""
    WITH RECURSIVE sigs AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b USING (bucket) WHERE a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, list_distinct({X.sql_shingles('text')}) AS s FROM documents),
    pairs AS (
      SELECT id_a, id_b
      FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
      WHERE len(list_intersect(sa.s, sb.s))::double /
            (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(id, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, w.comp FROM edges e JOIN walk w ON w.id = e.v
    )
    SELECT cast(id AS bigint) AS doc_id, cast(min(comp) AS bigint) AS component
    FROM walk GROUP BY id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf: str) -> DataFrame:
    """Pairs -> clusters: the step after LSH that makes dedup actually
    drop documents. Every doc gets the min doc_id of its transitive
    near-duplicate cluster as `component`; keep rows where
    doc_id == component. Oracle is DuckDB's recursive transitive
    closure over the same verified pairs."""
    from tera_spark.operators.dedup import connected_components, verified_near_duplicates

    docs = load(spark, sf, "documents")
    pairs = verified_near_duplicates(docs, threshold=0.5).select(
        F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b")
    )
    nodes = docs.select(F.col("doc_id").cast("long").alias("id"))
    cc = connected_components(pairs, nodes=nodes)
    return cc.select(F.col("id").alias("doc_id"), "component")


@query(
    "pipeline_leakage_safe_split",
    f"""
    WITH RECURSIVE sigs AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b USING (bucket) WHERE a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, list_distinct({X.sql_shingles('text')}) AS s FROM documents),
    pairs AS (
      SELECT id_a, id_b
      FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
      WHERE len(list_intersect(sa.s, sb.s))::double /
            (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(id, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, w.comp FROM edges e JOIN walk w ON w.id = e.v
    )
    SELECT cast(id AS bigint) AS doc_id,
           cast(min(comp) AS bigint) AS component,
           CASE WHEN ((min(comp) % 1000000) * 2654435761) % 4294967296 % 100 < 10
                THEN 'eval' ELSE 'train' END AS split
    FROM walk GROUP BY id
    """,
)
def pipeline_leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-free train/eval split: hash-gate on the near-duplicate
    COMPONENT representative, not the doc id, so a whole near-dup
    cluster always lands in one split — an eval doc can never have a
    near-copy in train. Plain per-doc hash splits leak: any split that
    separates two near-duplicates inflates eval scores. Deterministic
    (Knuth multiplicative hash on the component id, ~10% eval) and
    replayable across runs/engines."""
    from tera_spark.operators.dedup import connected_components, verified_near_duplicates

    docs = load(spark, sf, "documents")
    pairs = verified_near_duplicates(docs, threshold=0.5).select(
        F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b")
    )
    nodes = docs.select(F.col("doc_id").cast("long").alias("id"))
    cc = connected_components(pairs, nodes=nodes)
    hkey = ((F.col("component") % 1_000_000) * F.lit(2654435761)) % F.lit(4294967296)
    return cc.select(
        F.col("id").alias("doc_id"),
        "component",
        F.when(hkey % 100 < 10, F.lit("eval")).otherwise(F.lit("train")).alias("split"),
    )


@query(
    "pipeline_dedup_drop_list",
    f"""
    WITH RECURSIVE sigs AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b USING (bucket) WHERE a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, list_distinct({X.sql_shingles('text')}) AS s FROM documents),
    pairs AS (
      SELECT id_a, id_b
      FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
      WHERE len(list_intersect(sa.s, sb.s))::double /
            (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(id, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, w.comp FROM edges e JOIN walk w ON w.id = e.v
    ),
    comps AS (
      SELECT cast(id AS bigint) AS doc_id, cast(min(comp) AS bigint) AS keeper
      FROM walk GROUP BY id
    )
    SELECT doc_id, keeper FROM comps WHERE doc_id <> keeper
    """,
)
def pipeline_dedup_drop_list(spark: SparkSession, sf: str) -> DataFrame:
    """The end of the dedup pipeline: per near-duplicate cluster keep
    the min doc_id, list every other member as (doc_id, keeper) — the
    drop list an ingestion job anti-joins against. One map over the
    component assignment; the anti-join consumer is
    `docs.join(drop_list, 'doc_id', 'left_anti')`."""
    from tera_spark.operators.dedup import connected_components, verified_near_duplicates

    docs = load(spark, sf, "documents")
    pairs = verified_near_duplicates(docs, threshold=0.5).select(
        F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b")
    )
    nodes = docs.select(F.col("doc_id").cast("long").alias("id"))
    cc = connected_components(pairs, nodes=nodes)
    return (
        cc.filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias("doc_id"), F.col("component").alias("keeper"))
    )


@query(
    "text_tfidf_bm25",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                        t -> t <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, cast(count(*) AS bigint) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, cast(sum(tf) AS bigint) AS dl FROM tf GROUP BY doc_id),
    dfreq AS (SELECT term, cast(count(*) AS bigint) AS df FROM tf GROUP BY term),
    scalars AS (
      SELECT (SELECT cast(count(*) AS bigint) FROM documents) AS n_docs,
             (SELECT cast(count(*) AS bigint) FROM toks) AS n_toks
    ),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             round(tf.tf * ln(n_docs / dfreq.df), 6) AS tfidf,
             round(ln((n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (n_toks / n_docs))), 6) AS bm25,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rk
      FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN scalars
    )
    SELECT doc_id, term, tf, df, tfidf, bm25 FROM scored WHERE rk <= 3
    """,
)
def text_tfidf_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 highest-signal terms per document with TF-IDF and BM25
    (k1=1.2, b=0.75) scores from full-corpus statistics."""
    from tera_spark.operators.textops import tfidf_bm25_top_terms

    docs = load(spark, sf, "documents")
    return tfidf_bm25_top_terms(docs, top_k=3)


@query(
    "sample_stratified_deterministic",
    """
    WITH h AS (
      SELECT event_id, event_type,
             ((event_id % 1000000) * 2654435761) % 4294967296 AS hkey
      FROM events
    ),
    ranked AS (
      SELECT event_id, event_type, hkey,
             row_number() OVER (PARTITION BY event_type ORDER BY hkey, event_id) AS rk
      FROM h WHERE hkey < 0.2 * 4294967296
    )
    SELECT event_id, event_type, cast(rk AS bigint) AS rk
    FROM ranked WHERE rk <= 100
    """,
)
def sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Reproducible stratified sampling for training subsets: a
    Knuth-multiplicative hash of the id gates ~20% per stratum, then a
    per-stratum cap of 100 keeps the output bounded regardless of
    stratum skew. Pure integer arithmetic — the same subset falls out
    on ANY engine or re-run (seeded sample() cannot be replayed
    cross-engine), which is what makes a 100 TB training-data draw
    auditable. Map + one window per stratum; no shuffle beyond the
    stratum partition."""
    ev = load(spark, sf, "events")
    h = ev.select(
        "event_id",
        "event_type",
        (((F.col("event_id") % 1_000_000) * F.lit(2654435761)) % F.lit(4294967296)).alias("hkey"),
    ).filter(F.col("hkey") < 0.2 * 4294967296)
    from pyspark.sql import Window as W

    rk = F.row_number().over(W.partitionBy("event_type").orderBy("hkey", "event_id"))
    return (
        h.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 100)
        .select("event_id", "event_type", "rk")
    )


_SQL_QSCORE = _t6(
    f"least({_SQL_NTOK}::double / 100.0, 1.0) * 0.4 + {_SQL_STOPR} * 0.3 + {_SQL_ALPHA} * 0.3"
)


@query(
    "pipeline_corpus_curation",
    f"""
    WITH scored AS (
      SELECT doc_id, md5(text) AS h, {_sql_lang_case()} AS lang_guess,
             cast({_SQL_NTOK} AS bigint) AS n_tokens, {_SQL_QSCORE} AS quality_score
      FROM documents
    ),
    kept AS (SELECT * FROM scored WHERE quality_score >= 0.5),
    dedup AS (
      SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY h) AS keeper FROM kept
      ) WHERE doc_id = keeper
    )
    SELECT lang_guess, cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_tokens) AS bigint) AS total_tokens,
           round(avg(quality_score), 4) AS avg_quality
    FROM dedup GROUP BY lang_guess
    """,
)
def pipeline_corpus_curation(spark: SparkSession, sf: str) -> DataFrame:
    """The composed curation pass a training-data pipeline runs before
    tokenization: score quality -> language-ID -> drop low-quality ->
    exact-dedup (min-id keeper) -> per-language corpus budget. Each
    stage is the already-tested operator; the composition stays one
    declarative plan (scan -> map -> window on the hash -> final agg),
    so Catalyst pipelines it with two shuffles total (hash window +
    group-by) at any corpus size."""
    from tera_spark.operators.textops import language_id, quality_features
    from tera_spark.sources.tables import ensure_parallelism
    from pyspark.sql import Window as W

    docs = ensure_parallelism(load(spark, sf, "documents"))
    feats = quality_features(docs).select("doc_id", "n_tokens", "quality_score")
    base = docs.select(
        "doc_id", language_id(F.col("text")).alias("lang_guess"), F.md5("text").alias("h")
    )
    kept = base.join(feats, "doc_id").filter(F.col("quality_score") >= 0.5)
    keeper = F.min("doc_id").over(W.partitionBy("h"))
    dedup = kept.withColumn("keeper", keeper).filter(F.col("doc_id") == F.col("keeper"))
    return dedup.groupBy("lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
    )


@query(
    "dedup_edit_distance",
    f"""
    WITH sigs AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b USING (bucket) WHERE a.doc_id < b.doc_id
    )
    SELECT cast(id_a AS bigint) AS id_a, cast(id_b AS bigint) AS id_b,
           cast(levenshtein(da.text, db.text) AS int) AS edit_dist
    FROM cand JOIN documents da ON da.doc_id = id_a
              JOIN documents db ON db.doc_id = id_b
    WHERE levenshtein(da.text, db.text) <= 40
    """,
)
def dedup_edit_distance(spark: SparkSession, sf: str) -> DataFrame:
    """LSH candidates verified by Levenshtein distance — the
    small-in-place-edit member of the dedup family."""
    from tera_spark.operators.dedup import edit_distance_near_duplicates

    docs = load(spark, sf, "documents")
    return edit_distance_near_duplicates(docs).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "edit_dist",
    )


@query(
    "text_repetition_signals",
    f"""
    WITH base AS (
      SELECT doc_id, {X.sql_tokens('text')} AS t
      FROM documents WHERE doc_id % 4 = 1
    ),
    b2 AS (
      SELECT doc_id, t, len(t) AS n,
             CASE WHEN len(t) >= 2
                  THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                  ELSE []::varchar[] END AS bg
      FROM base
    )
    SELECT cast(doc_id AS bigint) AS doc_id,
           cast(n AS bigint) AS n_tokens,
           {_t6("list_max(list_transform(list_distinct(t), w -> len(list_filter(t, x -> x = w))))::double / greatest(n, 1)")} AS top_token_frac,
           {_t6("(len(bg) - len(list_distinct(bg)))::double / greatest(len(bg), 1)")} AS dup_bigram_frac
    FROM b2
    """,
)
def text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals: most-common-token fraction and
    duplicate-bigram fraction per document — map-only array math."""
    from tera_spark.operators.textops import repetition_signals

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 4 == 1)
    return repetition_signals(docs)


from tera_spark.operators.textops import PII_EMAIL as _EM  # noqa: E402


@query(
    "text_pii_redaction",
    f"""
    SELECT event_id,
           regexp_replace(regexp_replace(props, '{_EM}', '<EMAIL>', 'g'),
                          '[0-9]+', '<NUM>', 'g') AS redacted,
           cast(len(regexp_extract_all(props, '{_EM}')) AS bigint) AS n_email,
           cast(len(regexp_extract_all(regexp_replace(props, '{_EM}', '<EMAIL>', 'g'),
                                       '[0-9]+')) AS bigint) AS n_number
    FROM events WHERE event_id % 9 = 0
    """,
)
def text_pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
    """PII masking pass over a free-text column (events.props): emails
    then digit runs, with per-category match counts as the audit
    trail. Patterns are lookaround-free so Java regex (Spark) and RE2
    (oracle) agree byte-for-byte."""
    from tera_spark.operators.textops import redact_pii

    ev = load(spark, sf, "events").filter(F.col("event_id") % 9 == 0)
    return redact_pii(ev, "props", id_cols=["event_id"])


@query(
    "pipeline_decontaminate",
    f"""
    WITH ev AS (
      SELECT DISTINCT unnest({X.sql_shingles('text')}) AS g
      FROM documents WHERE doc_id % 97 = 0
    ),
    cand AS (
      SELECT doc_id, unnest(list_distinct({X.sql_shingles('text')})) AS g
      FROM documents WHERE doc_id % 97 <> 0
    )
    SELECT cast(doc_id AS bigint) AS doc_id, cast(count(*) AS bigint) AS n_hits
    FROM cand JOIN ev USING (g) GROUP BY doc_id
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any word 3-gram
    with the held-out eval slice (doc_id % 97 == 0) are flagged with
    their overlap count. Eval n-gram set is broadcast — corpus side
    stays map + one count shuffle at any scale."""
    from tera_spark.operators.dedup import decontaminate_ngrams

    docs = load(spark, sf, "documents")
    flagged = decontaminate_ngrams(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    )
    return flagged.select(F.col("id").cast("long").alias("doc_id"), "n_hits")


from tera_spark.operators.textops import BPE_SPLIT as _BPE  # noqa: E402
_BPE_SQL = _BPE.replace("'", "''")


@query(
    "doc_bpe_token_stats",
    f"""
    SELECT cast(doc_id AS bigint) AS doc_id,
           cast(len({X.sql_tokens('text')}) AS bigint) AS n_ws_tokens,
           cast(len(regexp_extract_all(text, '{_BPE_SQL}')) AS bigint) AS n_bpe_tokens,
           {_t6("length(text)::double / greatest(len(regexp_extract_all(text, '" + _BPE_SQL + "')), 1)")} AS chars_per_token
    FROM documents WHERE doc_id % 6 = 1
    """,
)
def doc_bpe_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus token budgeting with a GPT-2-style pre-tokenizer regex —
    the BPE-merge starting segmentation — alongside whitespace counts."""
    from tera_spark.operators.textops import bpe_token_stats

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 6 == 1)
    return bpe_token_stats(docs)


_SQL_NBPE_SUM = f"sum(len(regexp_extract_all(text, '{_BPE_SQL}')))"
_SQL_NWS_SUM = "sum(len(string_split_regex(trim(text), '\\s+')))"


@query(
    "text_tokenizer_fertility",
    f"""
    SELECT lang,
           cast(count(*) AS bigint) AS n_docs,
           cast({_SQL_NBPE_SUM} AS bigint) AS n_bpe_tokens,
           {_t6(f"sum(length(text))::double / greatest({_SQL_NBPE_SUM}, 1)")} AS chars_per_token,
           {_t6(f"{_SQL_NBPE_SUM}::double / greatest({_SQL_NWS_SUM}, 1)")} AS bpe_per_word
    FROM documents GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility per language: BPE segments per whitespace
    word and chars per BPE token, aggregated by lang — the standard
    multilingual-pipeline diagnostic (a language whose fertility is 2×
    English pays 2× context budget per word; token-budget mixtures
    must correct for it). Map-only regexp counts, one tiny lang-keyed
    aggregation."""
    from tera_spark.operators.textops import BPE_SPLIT
    from tera_spark.functions.text import tokens

    docs = load(spark, sf, "documents")
    seg = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_SPLIT), 0))

    def trunc6(x):
        return F.floor(x * 1_000_000).cast("double") / 1_000_000

    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(seg).cast("long").alias("n_bpe_tokens"),
        trunc6(
            F.sum(F.length("text")).cast("double")
            / F.greatest(F.sum(seg), F.lit(1)).cast("double")
        ).alias("chars_per_token"),
        trunc6(
            F.sum(seg).cast("double")
            / F.greatest(F.sum(F.size(tokens(F.col("text")))), F.lit(1)).cast("double")
        ).alias("bpe_per_word"),
    )


@query(
    "text_inverted_index",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest({X.sql_tokens('text')}) AS term
      FROM documents WHERE doc_id % 10 = 3
    )
    SELECT term,
           cast(count(*) AS bigint) AS doc_freq,
           string_agg(doc_id, ',' ORDER BY doc_id) AS postings
    FROM toks GROUP BY term HAVING count(*) >= 3
    """,
)
def text_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index build (term → sorted posting list) — the search
    primitive over a curated corpus. Explode is map-only; one
    aggregation keyed by term builds every posting list; lists are
    emitted as CSV strings for engine-portable comparison. At scale the
    posting list for a stopword-grade term is the skew risk — real
    deployments cap or tier those (the HAVING here is the mirror image:
    drop rare terms); state per term is O(postings), bounded by the
    same cap."""
    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 10 == 3)
    from tera_spark.functions.text import tokens as _toks

    t = docs.select(
        "doc_id", F.explode(F.array_distinct(_toks(F.col("text")))).alias("term")
    )
    return (
        t.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.array_join(F.sort_array(F.collect_list(F.col("doc_id"))), ",").alias(
                "postings"
            ),
        )
        .filter(F.col("doc_freq") >= 3)
    )


@query(
    "source_profile_stats",
    """
    SELECT source,
           cast(count(*) AS bigint) AS n_docs,
           cast(count(DISTINCT lang) AS bigint) AS n_langs,
           cast(min(n_chars) AS bigint) AS min_chars,
           cast(max(n_chars) AS bigint) AS max_chars,
           round(avg(n_chars), 4) AS avg_chars,
           round(stddev_samp(n_chars), 4) AS sd_chars,
           cast(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS bigint) AS null_lang
    FROM documents GROUP BY source
    """,
)
def source_profile_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Column-profiling rollup per ingestion source (count / distinct /
    min / max / mean / stddev / null-count) — the data-quality summary
    a pipeline materializes per corpus drop. One partial+final hash
    aggregation; distinct-count is the only expand, keyed by the same
    group column."""
    docs = load(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.stddev_samp("n_chars"), 4).alias("sd_chars"),
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0)).alias("null_lang"),
    )


_SQL_L2 = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "({a}[i]::double - {b}[i]::double) * ({a}[i]::double - {b}[i]::double)), "
    "(x, y) -> x + y)"
)


@query(
    "ann_ivf_topk",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS c_vec FROM embeddings WHERE vec_id < 16),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
    assigned AS (
      SELECT v.vec_id AS id, v.embedding AS vec,
             arg_min(c.cid, {_SQL_L2.format(a='v.embedding', b='c.c_vec')}) AS cluster
      FROM embeddings v, c GROUP BY v.vec_id, v.embedding
    ),
    probes AS (
      SELECT q_id, q_vec, cid FROM (
        SELECT q.q_id, q.q_vec, c.cid,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_SQL_L2.format(a='q.q_vec', b='c.c_vec')}, c.cid) AS pr
        FROM q, c
      ) WHERE pr <= 2
    ),
    sims AS (
      SELECT p.q_id, a.id AS v_id, round({_sql_cos('p.q_vec', 'a.vec')}, 6) AS sim
      FROM probes p JOIN assigned a ON a.cluster = p.cid
      WHERE a.id <> p.q_id
    ),
    ranked AS (
      SELECT q_id, v_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, v_id) AS rank
      FROM sims
    )
    SELECT cast(q_id AS bigint) AS q_id, cast(v_id AS bigint) AS v_id, sim,
           cast(rank AS bigint) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF top-k SEARCH (probe 2 nearest centroids, score only their
    inverted lists) — the scale path for ANN queries; compare
    ann_cosine_topk (exact brute force) for the recall baseline."""
    from tera_spark.operators.similarity import ivf_topk

    emb = load(spark, sf, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    qs = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, cents, qs, nprobe=2, k=5)


def _sql_hyperplane_planes() -> str:
    """VALUES table of the SAME plane constants as the Spark expression
    (operators/similarity.py hyperplane_signs) — integer dots, so every
    sign bit matches. A planes TABLE instead of an inline 2-D literal:
    DuckDB re-constructs an inline 2048-element list per element
    access, which never finished; as a relation the planes bind once."""
    from tera_spark.operators.similarity import hyperplane_signs

    planes = hyperplane_signs()
    rows = ", ".join(
        "(" + str(h + 1) + ", [" + ",".join(str(s) for s in row) + "])"
        for h, row in enumerate(planes)
    )
    return f"(VALUES {rows}) AS planes(h, p)"


def _sql_hyperplane_buckets() -> str:
    from tera_spark.operators.similarity import BAND_BITS, N_PLANES

    mask = (1 << BAND_BITS) - 1
    parts = ", ".join(
        f"concat('{b}', ':', ((sig >> {b * BAND_BITS}) & {mask})::varchar)"
        for b in range(N_PLANES // BAND_BITS)
    )
    return f"[{parts}]"


@query(
    "ann_hyperplane_pairs",
    f"""
    WITH bits AS (
      SELECT e.vec_id, planes.h,
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
                    planes.p[i] * round(e.embedding[i] * 1000000)::bigint)) >= 0
                  THEN (1::bigint << (planes.h - 1)) ELSE 0 END AS bit
      FROM embeddings e CROSS JOIN {_sql_hyperplane_planes()}
    ),
    sig AS (SELECT vec_id, sum(bit)::bigint AS sig FROM bits GROUP BY vec_id),
    sigs AS (SELECT vec_id, unnest({_sql_hyperplane_buckets()}) AS bucket FROM sig),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sigs a JOIN sigs b USING (bucket) WHERE a.vec_id < b.vec_id
    )
    SELECT cast(id_a AS bigint) AS id_a, cast(id_b AS bigint) AS id_b,
           round({_sql_cos('ea.embedding', 'eb.embedding')}, 6) AS sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = id_a
    JOIN embeddings eb ON eb.vec_id = id_b
    WHERE round({_sql_cos('ea.embedding', 'eb.embedding')}, 6) >= 0.35
    """,
)
def ann_hyperplane(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH near-pairs: training-free ANN candidates
    (bit-signature band collisions) verified by exact cosine — the
    embedding-space twin of MinHash LSH for text."""
    from tera_spark.operators.similarity import hyperplane_lsh_pairs

    emb = load(spark, sf, "embeddings")
    return hyperplane_lsh_pairs(emb, threshold=0.35)


def _sql_kmeans_ctes(k: int = 8, iters: int = 4, dim: int = 64) -> tuple[list, str]:
    """DuckDB replay of train_kmeans(k, iters, round_to=3): the Lloyd
    loop is a FIXED iteration count, so it unrolls into one CTE chain —
    seeds by h60(id), argmin assignment with (d2, cid) tie-break,
    per-(cluster, dim) mean rounded to 3dp (the quantization that pins
    the only summation-order-sensitive op), empty clusters keeping the
    previous centroid. Generated, not handwritten, so k/iters stay in
    sync with the Spark queries. Returns (parts, d2_expr); the chain
    ends with ``final(id, label, cluster)`` plus the source
    ``v(id, vec, label)`` for downstream oracles
    (ann_kmeans_clusters, dedup_semantic_trained)."""
    d2 = (
        "list_reduce(list_transform(range(1, {d}+1), i -> "
        "(v.vec[i] - c.c_vec[i]) * (v.vec[i] - c.c_vec[i])), (x, y) -> x + y)"
    ).format(d=dim)
    # Lloyd rounds run over vt, the SAME 100k smallest-h60 draw the
    # Spark side trains on (train_sample) — without this mirror, parity
    # would silently break the day a fixture grows past the sample size
    # (the seeds are the k smallest by the same hash, so they are
    # inside vt by construction). The FINAL assignment runs over all of
    # v, exactly like the Spark queries' full-corpus ivf_assign.
    sample = 100_000
    parts = [
        "WITH v AS (SELECT vec_id AS id, "
        "list_transform(embedding, x -> x::double) AS vec, label FROM embeddings)",
        f"""vt AS (
          SELECT id, vec, label FROM (
            SELECT id, vec, label, row_number() OVER (
              ORDER BY (('0x' || substr(md5(cast(id AS varchar)), 1, 15))::bigint), id
            ) AS srn FROM v
          ) WHERE srn <= {sample}
        )""",
        # seeds: k smallest h60(id) -> centroid ids 0..k-1 in that order
        f"""seeds AS (
          SELECT row_number() OVER (
            ORDER BY (('0x' || substr(md5(cast(id AS varchar)), 1, 15))::bigint), id
          ) - 1 AS cid, vec
          FROM v QUALIFY cid < {k}
        )""",
        "cents0 AS (SELECT cid, vec AS c_vec FROM seeds)",
    ]
    for t in range(iters):
        parts.append(f"""assign{t} AS (
          SELECT id, vec, label, cid AS cluster FROM (
            SELECT v.id, v.vec, v.label, c.cid,
                   row_number() OVER (PARTITION BY v.id ORDER BY {d2}, c.cid) AS rn
            FROM vt v, cents{t} c
          ) WHERE rn = 1
        )""")
        parts.append(f"""means{t} AS (
          SELECT cluster AS cid,
                 list(round(m, 3) ORDER BY pos) AS c_vec
          FROM (
            SELECT cluster, pos, avg(vec[pos]) AS m
            FROM assign{t}, unnest(range(1, {dim}+1)) AS u(pos)
            GROUP BY cluster, pos
          ) GROUP BY cluster
        )""")
        parts.append(f"""cents{t + 1} AS (
          SELECT p.cid, coalesce(m.c_vec, p.c_vec) AS c_vec
          FROM cents{t} p LEFT JOIN means{t} m USING (cid)
        )""")
    parts.append(f"""final AS (
      SELECT id, label, cid AS cluster FROM (
        SELECT v.id, v.label, c.cid,
               row_number() OVER (PARTITION BY v.id ORDER BY {d2}, c.cid) AS rn
        FROM v, cents{iters} c
      ) WHERE rn = 1
    )""")
    return parts, d2


def _sql_kmeans_oracle(k: int = 8, iters: int = 4, dim: int = 64) -> str:
    """Cluster-profile oracle on the shared unrolled-Lloyd chain."""
    parts, _ = _sql_kmeans_ctes(k, iters, dim)
    parts.append("""lab AS (
      SELECT cluster, label, count(*) AS nl FROM final GROUP BY cluster, label
    )""")
    return (
        ",\n".join(parts)
        + f"""
    SELECT cast(cluster AS bigint) AS cluster,
           cast(sum(nl) AS bigint) AS n_members,
           cast(min(CASE WHEN rnk = 1 THEN label END) AS bigint) AS majority_label
    FROM (
      SELECT cluster, label, nl,
             row_number() OVER (PARTITION BY cluster ORDER BY nl DESC, label) AS rnk
      FROM lab
    ) GROUP BY cluster
    """
    )


@query("ann_kmeans_clusters", _sql_kmeans_oracle())
def ann_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Train an IVF codebook with distributed Lloyd's k-means (8
    clusters, 4 rounds, centroids quantized to 3dp per round — see
    train_kmeans round_to), then profile the clustering: member count
    and majority ground-truth label per centroid (ties toward the
    lower label). The fixed iteration count makes the "iterative"
    algorithm SQL-expressible after all: the oracle unrolls the same
    4 Lloyd rounds in DuckDB and must land on bit-identical clusters —
    a full value-level driver row where rounds 1-3 only had the
    rows-only check."""
    from tera_spark.operators.similarity import ivf_assign, train_kmeans

    emb = load(spark, sf, "embeddings")
    cents = train_kmeans(emb, k=8, iters=4, round_to=3)
    assigned = ivf_assign(emb, cents, cid_col="centroid_id")
    labels = emb.select(F.col("vec_id").alias("id"), "label")
    counts = (
        assigned.join(labels, "id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("nl"))
    )
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("cluster").orderBy(F.desc("nl"), "label")
    )
    return (
        counts.withColumn("rnk", rnk)
        .groupBy("cluster")
        .agg(
            F.sum("nl").cast("long").alias("n_members"),
            F.min(F.when(F.col("rnk") == 1, F.col("label")))
            .cast("long")
            .alias("majority_label"),
        )
        .select(F.col("cluster").cast("long").alias("cluster"), "n_members", "majority_label")
    )


def _sql_semdedup_trained_oracle(
    k: int = 8, iters: int = 4, dim: int = 64, eps: float = 0.35
) -> str:
    """Within-learned-cluster cosine pairs on the shared unrolled-Lloyd
    chain — the DuckDB replay of train_kmeans -> ivf_assign ->
    ivf_near_pairs."""
    parts, _ = _sql_kmeans_ctes(k, iters, dim)
    parts.append(
        "pairsrc AS (SELECT f.id, f.cluster, v.vec FROM final f JOIN v ON v.id = f.id)"
    )
    cos = _sql_cos("a.vec", "b.vec")
    return (
        ",\n".join(parts)
        + f"""
    SELECT cast(a.cluster AS bigint) AS cluster,
           cast(a.id AS bigint) AS id_a, cast(b.id AS bigint) AS id_b,
           round({cos}, 6) AS sim
    FROM pairsrc a JOIN pairsrc b ON a.cluster = b.cluster AND a.id < b.id
    WHERE round({cos}, 6) >= {eps}
    """
    )


@query("dedup_semantic_trained", _sql_semdedup_trained_oracle())
def dedup_semantic_trained(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup on LEARNED clusters (the production shape of
    dedup_semantic_drop_list, which uses fixture centroids): train the
    k-means codebook on the corpus itself (k=8, 4 Lloyd rounds,
    centroids on the 3dp grid — reproducible, see train_kmeans), assign
    every vector map-only, and confine the quadratic cosine comparison
    within clusters. The oracle unrolls the same 4 Lloyd rounds in
    DuckDB and must land on bit-identical pairs — full value-level
    check of the train -> assign -> within-cluster-verify composition.
    At 100 TB: training cost is pinned by the 100k hash-sample, the
    assignment is a zero-shuffle literal argmin, and k grows ~sqrt(N)
    so sum(cluster_size^2) stays bounded — never an all-pairs join."""
    from tera_spark.operators.similarity import ivf_near_pairs, train_kmeans

    emb = load(spark, sf, "embeddings")
    cents = train_kmeans(emb, k=8, iters=4, round_to=3)
    return ivf_near_pairs(emb, cents, threshold=0.35).select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "sim",
    )


def _sql_semdedup_windowed_oracle(
    k: int = 8, iters: int = 4, dim: int = 64, eps: float = 0.35, w: int = 4
) -> str:
    """Sorted-neighborhood replay: rank cluster members by d² to their
    final centroid (ties → lower id), verify only pairs within ``w``
    positions — the DuckDB twin of windowed_semantic_pairs."""
    parts, d2 = _sql_kmeans_ctes(k, iters, dim)
    parts.append(f"""ranked AS (
      SELECT f.cluster, f.id, v.vec,
             row_number() OVER (PARTITION BY f.cluster ORDER BY {d2}, f.id) AS pos
      FROM final f JOIN v ON v.id = f.id JOIN cents{iters} c ON c.cid = f.cluster
    )""")
    cos = _sql_cos("a.vec", "b.vec")
    return (
        ",\n".join(parts)
        + f"""
    SELECT cast(a.cluster AS bigint) AS cluster,
           cast(least(a.id, b.id) AS bigint) AS id_a,
           cast(greatest(a.id, b.id) AS bigint) AS id_b,
           round({cos}, 6) AS sim
    FROM ranked a JOIN ranked b
      ON a.cluster = b.cluster AND b.pos BETWEEN a.pos + 1 AND a.pos + {w}
    WHERE round({cos}, 6) >= {eps}
    """
    )


@query("dedup_semantic_windowed", _sql_semdedup_windowed_oracle())
def dedup_semantic_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood semantic dedup — the linear-work scale path
    for the within-cluster verify that dominates dedup_semantic_trained
    (SCALE.md "Semantic dedup"): rank each cluster's members by L2
    distance to their centroid, cosine-verify only pairs within 4
    positions — N·w comparisons instead of sum(cluster²). The rank and
    the window join are deterministic (d² is the same sequential
    float64 fold on both engines, ties break on id), so even this
    approximate method gets a full value-level oracle."""
    from tera_spark.operators.similarity import train_kmeans, windowed_semantic_pairs

    emb = load(spark, sf, "embeddings")
    cents = train_kmeans(emb, k=8, iters=4, round_to=3)
    return windowed_semantic_pairs(emb, cents, threshold=0.35, window=4).select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "sim",
    )


@query(
    "sample_weighted_reservoir",
    """
    WITH k AS (
      SELECT doc_id, n_chars,
             -ln(((((doc_id % 1000000) * 2654435761) % 4294967296) + 1)
                 / 4294967296.0) / greatest(n_chars, 1) AS key
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY key, doc_id) AS rk
      FROM k
    )
    SELECT cast(doc_id AS bigint) AS doc_id, cast(n_chars AS bigint) AS n_chars,
           cast(rk AS bigint) AS rk
    FROM ranked WHERE rk <= 50
    """,
)
def sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted reservoir draw (Efraimidis-Spirakis): each document
    races an exponential clock with rate = its weight (n_chars here —
    longer documents proportionally likelier), and the k smallest
    arrival times win. The uniform comes from the same Knuth
    multiplicative hash as the stratified sampler, so the draw replays
    identically on any engine — a seeded sample() cannot. Scale shape:
    map-side key computation + distributed TakeOrdered (orderBy+limit
    pushes per-partition top-k before the single-reduce merge), never
    a global sort; ranks are assigned on the k winners only."""
    docs = load(spark, sf, "documents")
    u = (
        (((F.col("doc_id") % 1_000_000) * F.lit(2654435761)) % F.lit(4294967296)) + 1
    ) / F.lit(4294967296.0)
    key = -F.log(u) / F.greatest(F.col("n_chars"), F.lit(1))
    top = (
        docs.select("doc_id", "n_chars", key.alias("key"))
        .orderBy("key", "doc_id")
        .limit(50)
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(W.orderBy("key", "doc_id"))
    return top.withColumn("rk", rk.cast("long")).select("doc_id", "n_chars", "rk")


@query(
    "dedup_span_removal",
    """
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                  FROM documents),
    grams AS (
      SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS gram
      FROM toks, unnest(range(1, greatest(len(t)-7, 0)+1)) AS u(i)
    ),
    rep AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    cover AS (
      SELECT DISTINCT g.doc_id, j
      FROM grams g JOIN rep USING (gram), unnest(range(g.i, g.i + 8)) AS v(j)
    ),
    pos AS (
      SELECT doc_id, k, t[k] AS tok, len(t) AS n_tokens
      FROM toks, unnest(range(1, len(t)+1)) AS u(k)
    ),
    folded AS (
      SELECT p.doc_id,
             max(p.n_tokens) AS n_tokens,
             sum(CASE WHEN c.j IS NULL THEN 0 ELSE 1 END) AS n_removed,
             coalesce(string_agg(CASE WHEN c.j IS NULL THEN p.tok END, ' ' ORDER BY p.k), '') AS clean_text
      FROM pos p LEFT JOIN cover c ON p.doc_id = c.doc_id AND p.k = c.j
      GROUP BY p.doc_id
    )
    SELECT cast(doc_id AS bigint) AS doc_id, cast(n_tokens AS bigint) AS n_tokens,
           cast(n_removed AS bigint) AS n_removed, clean_text
    FROM folded WHERE n_removed > 0
    """,
)
def dedup_span_removal(spark: SparkSession, sf: str) -> DataFrame:
    """Apply-stage of exact substring dedup: strip 8-token spans that
    occur in >=2 distinct docs (the removal pass over the spans that
    dedup_repeated_ngram_spans detects)."""
    from tera_spark.operators.dedup import remove_repeated_spans

    docs = load(spark, sf, "documents")
    out = remove_repeated_spans(docs, n=8, min_docs=2)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        "clean_text",
    )


_SQL_URL_FIXTURE = """
      SELECT doc_id,
             concat(
               CASE WHEN doc_id % 4 = 1 THEN 'HTTPS' ELSE 'https' END, '://',
               CASE WHEN doc_id % 4 = 2 THEN 'www.' ELSE '' END,
               'crawl.example.com',
               CASE WHEN doc_id % 4 = 3 THEN ':443' ELSE '' END,
               '/docs/', cast(doc_id // 4 AS varchar),
               CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
               CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=x&a=1'
                    ELSE '?a=1&b=2' END,
               CASE WHEN doc_id % 4 = 1 THEN '#frag' ELSE '' END
             ) AS url
      FROM documents
"""


@query(
    "dedup_url_canonical",
    f"""
    WITH raw AS ({_SQL_URL_FIXTURE})
    SELECT {X.sql_canonical_url('url')} AS canonical_url,
           cast(count(*) AS bigint) AS n_dups,
           cast(min(doc_id) AS bigint) AS keep_doc
    FROM raw GROUP BY 1
    """,
)
def dedup_url_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """URL-canonicalization dedup — the FIRST stage of the standard
    crawl pipeline (dedup by canonical URL before any content pass:
    RefinedWeb / CCNet practice). Each document synthesizes one URL
    from a closed-form fixture whose four variants differ only by
    case, 'www.', the scheme's default port, a trailing slash, a
    tracking param and a fragment — canonical_url (functions/text.py,
    Spark/DuckDB twins) must collapse all four onto one key; keep rule
    is min(doc_id).

    Scale shape: canonicalization is a map-only JVM regex/array
    expression pipeline (no UDF); ONE shuffle on the canonical key —
    the same single-exchange shape as dedup_exact_hash, so it holds at
    100 TB the same way (canonical-URL keys are near-unique, no skew
    beyond genuinely duplicated pages; a pathological mega-duplicate
    URL is exactly the row you want to find)."""
    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 4 == 1, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(did % 4 == 2, F.lit("www.")).otherwise(F.lit("")),
        F.lit("crawl.example.com"),
        F.when(did % 4 == 3, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        F.floor(did / 4).cast("long").cast("string"),
        F.when(did % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 2 == 0, F.lit("?b=2&utm_source=x&a=1")).otherwise(
            F.lit("?a=1&b=2")
        ),
        F.when(did % 4 == 1, F.lit("#frag")).otherwise(F.lit("")),
    )
    return (
        docs.select(did.alias("doc_id"), url.alias("url"))
        .select("doc_id", X.canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("doc_id").cast("long").alias("keep_doc"),
        )
    )


@query(
    "dedup_incremental_batch",
    f"""
    WITH inc AS (SELECT * FROM documents WHERE doc_id % 10 < 3),
    corp AS (SELECT * FROM documents WHERE doc_id % 10 >= 3),
    exact_ids AS (
      SELECT DISTINCT i.doc_id FROM inc i JOIN corp c ON md5(i.text) = md5(c.text)
    ),
    ib AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM inc
    ),
    cb AS (
      SELECT DISTINCT unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM corp
    ),
    near_ids AS (SELECT DISTINCT ib.doc_id FROM ib JOIN cb USING (bucket))
    SELECT cast(doc_id AS bigint) AS doc_id,
           CASE WHEN doc_id IN (SELECT doc_id FROM exact_ids) THEN 'exact'
                WHEN doc_id IN (SELECT doc_id FROM near_ids) THEN 'near'
                ELSE 'unique' END AS verdict
    FROM inc
    """,
)
def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental batch-vs-corpus admission: classify each incoming doc
    exact / near (shared LSH band bucket) / unique against the standing
    corpus — the continuously-ingesting form of whole-corpus dedup."""
    from tera_spark.operators.dedup import incremental_dedup

    docs = load(spark, sf, "documents")
    incoming = docs.filter(F.col("doc_id") % 10 < 3)
    corpus = docs.filter(F.col("doc_id") % 10 >= 3)
    out = incremental_dedup(corpus, incoming)
    return out.select(F.col("id").cast("long").alias("doc_id"), "verdict")


def _sql_pq_oracle(m: int = 8, k: int = 16, iters: int = 2, dim: int = 64, topk: int = 5) -> str:
    """DuckDB replay of train_pq(m, k, iters, round_to=3) + pq_topk:
    per-subspace Lloyd unrolled (same quantized-mean trick as the
    kmeans oracle), map-only encode as an argmin with (d2, cid)
    tie-break, and ADC scoring as an ORDERED fold over the m lookup
    terms — matching Spark's F.aggregate summation order exactly, so
    the comparison is bit-level, not approximate."""
    d_sub = dim // m
    # ordered L2 fold between two equal-length lists (matches Spark's
    # 0.0-seeded left fold: the 0.0 prefix is exact)
    sd2 = (
        "list_reduce(list_transform(range(1, {n}+1), i -> "
        "({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    # training sweeps run over subs_t — the 100k smallest-h60 draw
    # mirroring the Spark side's train_sample (see _sql_kmeans_ctes);
    # the encode pass (codes) stays over ALL of subs, like pq_encode
    sample = 100_000
    parts = [
        "WITH v AS (SELECT vec_id AS id, "
        "list_transform(embedding, x -> x::double) AS vec FROM embeddings)",
        f"""subs AS (
          SELECT id, s AS sub, vec[s*{d_sub}+1 : (s+1)*{d_sub}] AS svec
          FROM v, unnest(range(0, {m})) AS u(s)
        )""",
        f"""trainset AS (
          SELECT id FROM (
            SELECT id, row_number() OVER (
              ORDER BY (('0x' || substr(md5(cast(id AS varchar)), 1, 15))::bigint), id
            ) AS srn FROM v
          ) WHERE srn <= {sample}
        )""",
        "subs_t AS (SELECT s.id, s.sub, s.svec FROM subs s JOIN trainset USING (id))",
        f"""seed_ids AS (
          SELECT id, row_number() OVER (
            ORDER BY (('0x' || substr(md5(cast(id AS varchar)), 1, 15))::bigint), id
          ) - 1 AS cid
          FROM v QUALIFY cid < {k}
        )""",
        "book0 AS (SELECT s.sub, si.cid, s.svec AS c_vec "
        "FROM subs s JOIN seed_ids si USING (id))",
    ]
    pair_d2 = sd2.format(n=d_sub, a="s.svec", b="c.c_vec")
    for t in range(iters):
        parts.append(f"""assign{t} AS (
          SELECT id, sub, svec, cid AS cluster FROM (
            SELECT s.id, s.sub, s.svec, c.cid,
                   row_number() OVER (
                     PARTITION BY s.id, s.sub ORDER BY {pair_d2}, c.cid
                   ) AS rn
            FROM subs_t s JOIN book{t} c USING (sub)
          ) WHERE rn = 1
        )""")
        parts.append(f"""means{t} AS (
          SELECT sub, cluster AS cid, list(round(mv, 3) ORDER BY pos) AS c_vec
          FROM (
            SELECT sub, cluster, pos, avg(svec[pos]) AS mv
            FROM assign{t}, unnest(range(1, {d_sub}+1)) AS u(pos)
            GROUP BY sub, cluster, pos
          ) GROUP BY sub, cluster
        )""")
        parts.append(f"""book{t + 1} AS (
          SELECT p.sub, p.cid, coalesce(m.c_vec, p.c_vec) AS c_vec
          FROM book{t} p LEFT JOIN means{t} m ON p.sub = m.sub AND p.cid = m.cid
        )""")
    parts.append(f"""codes AS (
      SELECT id, list(cid ORDER BY sub) AS cds FROM (
        SELECT s.id, s.sub, c.cid,
               row_number() OVER (
                 PARTITION BY s.id, s.sub ORDER BY {pair_d2}, c.cid
               ) AS rn
        FROM subs s JOIN book{iters} c USING (sub)
      ) WHERE rn = 1 GROUP BY id
    )""")
    q_d2 = sd2.format(n=d_sub, a="q.svec", b="c.c_vec")
    parts.append(f"""qtab AS (
      SELECT q_id, list(dl ORDER BY sub) AS qt FROM (
        SELECT q.id AS q_id, c.sub AS sub,
               list({q_d2} ORDER BY c.cid) AS dl
        FROM (SELECT * FROM subs WHERE id < 5) q
        JOIN book{iters} c ON q.sub = c.sub
        GROUP BY q.id, c.sub
      ) GROUP BY q_id
    )""")
    parts.append(f"""scored AS (
      SELECT t.q_id, e.id AS v_id,
             round(list_reduce(
               list_transform(range(1, {m}+1), s -> t.qt[s][e.cds[s] + 1]),
               (x, y) -> x + y
             ), 6) AS adc_d2
      FROM codes e, qtab t WHERE e.id <> t.q_id
    )""")
    return (
        ",\n".join(parts)
        + f"""
    SELECT cast(q_id AS bigint) AS q_id, cast(v_id AS bigint) AS v_id,
           adc_d2, cast(rank AS bigint) AS rank
    FROM (
      SELECT q_id, v_id, adc_d2,
             row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, v_id) AS rank
      FROM scored
    ) WHERE rank <= {topk}
    """
    )


@query("ann_pq_topk", _sql_pq_oracle())
def ann_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ scale path: train a product-quantization codebook
    (distributed Lloyd over all subspaces at once, sub-centroids
    quantized to 3dp per round), encode map-only, search by asymmetric
    distance (per-query m×k lookup table). The encoded side never
    shuffles; see operators/similarity.py. Fixed round count → the
    oracle unrolls the same training + ADC search in DuckDB and the
    driver row is a full bit-level value check."""
    from tera_spark.operators.similarity import pq_topk, train_pq

    emb = load(spark, sf, "embeddings")
    cb = train_pq(emb, m=8, k=16, iters=2, round_to=3)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return pq_topk(emb, cb, queries_df, k=5).select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("v_id").cast("long").alias("v_id"),
        "adc_d2",
        "rank",
    )


@query(
    "text_bpe_pair_counts",
    """
    WITH words AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents
    ),
    wf AS (SELECT w, count(*) AS freq FROM words WHERE w <> '' GROUP BY w),
    pairs AS (
      SELECT substring(w, i, 1) AS a, substring(w, i+1, 1) AS b, freq
      FROM wf, unnest(range(1, length(w))) AS u(i)
      WHERE length(w) >= 2
    )
    SELECT a, b, cast(sum(freq) AS bigint) AS n
    FROM pairs GROUP BY a, b
    """,
)
def text_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Round 0 of BPE merge-rule training: adjacent char-pair counts
    over the vocabulary (word-frequency) table — the corpus collapses
    to distinct words before any pair math."""
    from tera_spark.operators.textops import bpe_pair_counts

    docs = load(spark, sf, "documents")
    return bpe_pair_counts(docs).select("a", "b", "n")


def _sql_bpe_oracle(n_merges: int = 8) -> str:
    """DuckDB replay of bpe_train_merges(n_merges): the greedy loop has
    a FIXED round count, so it unrolls — each round counts adjacent
    symbol pairs over the word-frequency table, picks the top pair
    (count desc, a, b), and applies it leftmost-first/non-overlapping
    via a recursive-CTE fold over symbol positions (the same fold
    _apply_merge runs as a Spark aggregate expression; plain string
    replace() can NOT stand in — its resume-after-match semantics
    diverge from leftmost-first on runs like 'aaaa' under rule (a,a))."""
    # every CTE that feeds a later round is MATERIALIZED: DuckDB would
    # otherwise inline the chain and re-evaluate all earlier rounds at
    # every recursion step — exponential blowup across 8 rounds
    parts = [
        """words0 AS MATERIALIZED (
          SELECT list_transform(range(1, length(w)+1), i -> w[i]) AS syms,
                 count(*) AS freq
          FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
                FROM documents)
          WHERE w <> '' GROUP BY w
        )"""
    ]
    for t in range(n_merges):
        parts.append(f"""pairs{t} AS MATERIALIZED (
          SELECT syms[i] AS a, syms[i+1] AS b, sum(freq) AS n
          FROM words{t}, unnest(range(1, greatest(len(syms)-1, 0)+1)) AS u(i)
          GROUP BY a, b
        )""")
        parts.append(
            f"top{t} AS MATERIALIZED (SELECT a, b FROM pairs{t} ORDER BY n DESC, a, b LIMIT 1)"
        )
        # leftmost-first non-overlapping apply: positional fold. A pair
        # merges iff the out-list's tail equals `a` AND the tail was not
        # itself produced by a merge this round (matches _apply_merge:
        # a merged symbol never chains, since a+b != a always).
        parts.append(f"""fold{t} AS (
          SELECT syms, freq, 1 AS pos,
                 CAST([] AS VARCHAR[]) AS out, false AS merged_last
          FROM words{t}
          UNION ALL
          SELECT f.syms, f.freq, f.pos + 1,
                 CASE WHEN len(f.out) > 0 AND NOT f.merged_last
                           AND f.out[-1] = t.a AND f.syms[f.pos] = t.b
                      THEN list_append(f.out[1:len(f.out)-1], t.a || t.b)
                      ELSE list_append(f.out, f.syms[f.pos]) END,
                 (len(f.out) > 0 AND NOT f.merged_last
                  AND f.out[-1] = t.a AND f.syms[f.pos] = t.b)
          FROM fold{t} f, top{t} t
          WHERE f.pos <= len(f.syms)
        )""")
        parts.append(f"""words{t + 1} AS MATERIALIZED (
          SELECT out AS syms, freq FROM fold{t} WHERE pos = len(syms) + 1
        )""")
    tops = "\nUNION ALL\n".join(
        f"SELECT {t + 1} AS rank, a, b FROM top{t}" for t in range(n_merges)
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + f"\nSELECT cast(rank AS bigint) AS rank, a, b FROM ({tops})"
    )


@query("text_bpe_merges", _sql_bpe_oracle())
def text_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Learned BPE merge rules (greedy top-pair, leftmost-first apply)
    with their rank — the tokenizer-training step itself. The fixed
    round count makes the greedy loop SQL-expressible: the oracle
    unrolls 8 rounds in DuckDB (recursive-CTE fold for the apply step)
    and must produce the identical rule list."""
    from tera_spark.operators.textops import bpe_train_merges

    docs = load(spark, sf, "documents")
    merges = bpe_train_merges(docs, n_merges=8)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, a string, b string",
    )


@query(
    "pipeline_weighted_interleave",
    """
    WITH w AS (
      SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 0.6 WHEN 'src1' THEN 0.3
                         WHEN 'src2' THEN 0.1 END AS wt
      FROM documents WHERE source IN ('src0','src1','src2')
    ),
    pos AS (
      SELECT doc_id, source,
             (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 0.5) / wt
               AS position
      FROM w
    )
    SELECT cast(row_number() OVER (ORDER BY position, source, doc_id) AS bigint)
             AS global_rank,
           cast(doc_id AS bigint) AS doc_id, source,
           round(position, 6) AS position
    FROM pos
    """,
)
def pipeline_weighted_interleave(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted source interleaving (stride scheduling):
    the global read order for a 0.6/0.3/0.1 source mix, no RNG."""
    from tera_spark.sources.sharding import weighted_interleave

    docs = load(spark, sf, "documents")
    out = weighted_interleave(docs, {"src0": 0.6, "src1": 0.3, "src2": 0.1})
    return out.select(
        "global_rank", F.col("doc_id").cast("long").alias("doc_id"), "source", "position"
    )


@query(
    "ann_hard_negatives",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    sims AS (
      SELECT q.q_id, v.vec_id AS v_id,
             round({_sql_cos('q.q_vec', 'v.embedding')}, 6) AS sim
      FROM embeddings v, q WHERE v.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, v_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, v_id) AS rank
      FROM sims
    )
    SELECT cast(q_id AS bigint) AS q_id, cast(v_id AS bigint) AS v_id, sim,
           cast(rank AS bigint) AS rank
    FROM ranked WHERE rank BETWEEN 20 AND 30
    """,
)
def ann_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining: per-anchor rank band [20, 30] by cosine —
    the contrastive-training negative sampler."""
    from tera_spark.operators.similarity import hard_negatives

    emb = load(spark, sf, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 5), rank_lo=20, rank_hi=30)


@query(
    "pipeline_pseudonymize_users",
    """
    SELECT DISTINCT user_id,
           substring(md5('corpus-v1:' || cast(user_id AS varchar)), 1, 16) AS pseudo_id
    FROM events
    """,
)
def pipeline_pseudonymize(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic pseudonymization of user identifiers: a salted
    md5 prefix replaces the raw id, stable across runs/engines so
    joins on the pseudonym still line up, with no reversible mapping
    stored. Map-only; the distinct is the only shuffle (and in a real
    pipeline you'd apply the expression in place, shuffle-free)."""
    ev = load(spark, sf, "events")
    pseudo = F.substring(
        F.md5(F.concat(F.lit("corpus-v1:"), F.col("user_id").cast("string"))), 1, 16
    )
    return ev.select("user_id", pseudo.alias("pseudo_id")).distinct()


_SQL_L2 = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "({a}[i]::double - {b}[i]::double) * ({a}[i]::double - {b}[i]::double)), (x, y) -> x + y)"
)


@query(
    "dedup_semantic_drop_list",
    f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT v.vec_id AS id, v.embedding AS vec, c.cid,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_SQL_L2.format(a='v.embedding', b='c.c_vec')}, c.cid
             ) AS rn
      FROM embeddings v, cents c
    ),
    assigned AS (SELECT id, vec, cid AS cluster FROM scored WHERE rn = 1),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM assigned a JOIN assigned b USING (cluster)
      WHERE a.id < b.id
        AND round({_sql_cos('a.vec', 'b.vec')}, 6) >= 0.35
    )
    SELECT cast(id_b AS bigint) AS id, cast(min(id_a) AS bigint) AS kept_neighbor
    FROM pairs GROUP BY id_b
    """,
)
def dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster by nearest centroid
    (deterministic fixture centroids: vec_id < 8), within-cluster
    cosine >= 0.35 pairs, min-id keeper rule -> drop list."""
    from tera_spark.operators.similarity import semantic_drop_list

    emb = load(spark, sf, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    out = semantic_drop_list(emb, cents, threshold=0.35)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("kept_neighbor").cast("long").alias("kept_neighbor"),
    )


@query(
    "dedup_semantic_incremental",
    f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
    inc AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 < 3),
    corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 >= 3),
    ia AS (
      SELECT id, vec, cid AS cluster FROM (
        SELECT v.vec_id AS id, v.embedding AS vec, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_SQL_L2.format(a='v.embedding', b='c.c_vec')}, c.cid
               ) AS rn
        FROM inc v, cents c
      ) WHERE rn = 1
    ),
    ca AS (
      SELECT id, vec, cid AS cluster FROM (
        SELECT v.vec_id AS id, v.embedding AS vec, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_SQL_L2.format(a='v.embedding', b='c.c_vec')}, c.cid
               ) AS rn
        FROM corp v, cents c
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT i.id, c.id AS match_id, round({_sql_cos('i.vec', 'c.vec')}, 6) AS sim
      FROM ia i JOIN ca c USING (cluster)
      WHERE round({_sql_cos('i.vec', 'c.vec')}, 6) >= 0.35
    ),
    best AS (
      SELECT id, match_id, sim FROM (
        SELECT id, match_id, sim,
               row_number() OVER (PARTITION BY id ORDER BY sim DESC, match_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT cast(i.vec_id AS bigint) AS id,
           CASE WHEN b.id IS NOT NULL THEN 'near' ELSE 'unique' END AS verdict,
           cast(b.match_id AS bigint) AS match_id, b.sim AS sim
    FROM inc i LEFT JOIN best b ON b.id = i.vec_id
    """,
)
def dedup_semantic_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental batch-vs-corpus SEMANTIC admission — the
    embedding-space member of the incremental-dedup family
    (dedup_incremental_batch covers MinHash text): each incoming vector
    is verified only against corpus members of its own cluster on a
    frozen codebook (fixture centroids: vec_id < 8, as
    dedup_semantic_drop_list), reporting near/unique plus the best
    corpus match. The nightly-ingest shape — never corpus × corpus."""
    from tera_spark.operators.similarity import semantic_admission

    emb = load(spark, sf, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    incoming = emb.filter(F.col("vec_id") % 10 < 3)
    corpus = emb.filter(F.col("vec_id") % 10 >= 3)
    out = semantic_admission(corpus, incoming, cents, threshold=0.35)
    return out.select(
        F.col("id").cast("long").alias("id"),
        "verdict",
        F.col("match_id").cast("long").alias("match_id"),
        "sim",
    )


@query(
    "text_compression_ratio",
    f"""
    SELECT cast(d.doc_id AS bigint) AS doc_id,
           cast(d.doc_id % 8 AS bigint) AS cls,
           cast(strlen(d.text) AS bigint) AS doc_bytes,
           cast(pins.raw_bytes AS bigint) AS n_bytes,
           cast(pins.comp_bytes AS bigint) AS comp_bytes,
           pins.ratio AS ratio
    FROM documents d
    JOIN {X.sql_compression_pins()} ON pins.cls = d.doc_id % 8
    WHERE d.doc_id % 11 = 3
    """,
)
def text_compression_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """zlib redundancy signal — the deliberate Python path (Arrow-
    batched pandas UDF, operators/textops.py), VALUE-checked since
    round 7. DuckDB cannot run zlib, so the check pins the kernel on
    a calibration corpus instead of skipping it: each sampled doc is
    assigned one of eight FIXED strings (doc_id % 8 — repetition,
    boilerplate, hash-chain noise; functions/text.calibration_texts),
    the PRODUCTION kernel compresses them, and the oracle joins the
    zlib output lengths as a literal pin relation
    (X.sql_compression_pins, computed by the same interpreter's
    zlib). Every compressed byte count and floor-truncated ratio is
    hash-matched; doc_bytes ties each row to the real corpus. The
    corpus-wide SQL-expressible redundancy signal remains in the
    sibling text_redundancy_stats; production scoring of real text
    uses the same kernel via compression_ratio(docs)."""
    from tera_spark.functions.text import calibration_texts
    from tera_spark.operators.textops import compression_ratio

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 11 == 3)
    texts = F.array(*[F.lit(s) for s in calibration_texts()])
    calib = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("long").alias("cls"),
        F.octet_length("text").cast("long").alias("doc_bytes"),
        F.get(texts, (F.col("doc_id") % 8).cast("int")).alias("text"),
    )
    return compression_ratio(calib, include_comp=True, keep=("cls", "doc_bytes"))


@query(
    "text_redundancy_stats",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    freq AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2)
    SELECT doc_id,
           cast(sum(c) AS bigint) AS n_tokens,
           cast(count(*) AS bigint) AS n_types,
           (floor(count(*)::double / sum(c) * 1000000)::double / 1000000) AS ttr,
           (floor(max(c)::double / sum(c) * 1000000)::double / 1000000)
             AS top_share
    FROM freq GROUP BY doc_id
    """,
)
def text_redundancy_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document lexical-redundancy stats — the SQL-expressible
    half of the compression-ratio signal (text_compression_ratio keeps
    the zlib column rows-only): type-token ratio and top-token share.
    Low TTR or high top-share = degenerate repetition, the same docs
    zlib flags; curation pipelines read the two side by side. Pure
    integer counts divided once and floor-truncated (bit-stable).

    Scale shape: token explode into a (doc_id, token) count, then a
    doc_id rollup — two map-side-combined aggregations sharing the
    doc_id key prefix, ONE exchange."""
    docs = load(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    freq = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))

    def t6(x):
        return (F.floor(x * 1_000_000).cast("double") / 1_000_000)

    return freq.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        t6(F.count("*").cast("double") / F.sum("c")).alias("ttr"),
        t6(F.max("c").cast("double") / F.sum("c")).alias("top_share"),
    )


@query(
    "text_bigram_surprisal",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    bi AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(range(1, greatest(len(t)-1, 0)+1)) AS u(i)
    ),
    bcnt AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
    ucnt AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
    vocab AS (SELECT count(DISTINCT w2)::double AS v FROM bi)
    SELECT doc_id, cast(count(*) AS bigint) AS n_bigrams,
           cast(sum(floor(-ln((c2 + 1.0) / (c1 + v)) * 1000000)::bigint) AS bigint)
             AS nll_micro
    FROM bi JOIN bcnt USING (w1, w2) JOIN ucnt USING (w1) CROSS JOIN vocab
    GROUP BY doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-trained BIGRAM language model with add-one smoothing:
    each doc's total -ln P(w2|w1) where P = (c(w1,w2)+1)/(c(w1)+V) —
    the stronger perplexity-style filter (context-aware; flags
    shuffled/unnatural word order that the unigram model cannot see).
    Per-bigram surprisal floor-quantized to integer micro-nats before
    summing (associative, engine-stable).

    Scale shape: bigram and left-context tables are vocabulary²-bounded
    but practically Zipf-small -> broadcast onto the bigram stream
    while they fit, degrade to shuffle joins automatically past the
    threshold; one final shuffle keyed by doc_id. Same two-pass
    (train, score) structure as the unigram filter."""
    docs = load(spark, sf, "documents")
    t = F.split(F.trim("text"), r"\s+")
    base = docs.select("doc_id", t.alias("t"))
    pairs = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.struct(
                F.get(F.col("t"), i - 1).alias("w1"), F.get(F.col("t"), i).alias("w2")
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<struct<w1:string,w2:string>>)"))
    bi = base.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    bcnt = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    ucnt = bi.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = bi.agg(F.countDistinct("w2").cast("double").alias("v"))
    nll = F.floor(-F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))) * 1_000_000).cast("long")
    return (
        bi.join(F.broadcast(bcnt), ["w1", "w2"])
        .join(F.broadcast(ucnt), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(nll).cast("long").alias("nll_micro"),
        )
    )


def _sql_lang_margin() -> str:
    from tera_spark.operators.textops import LANG_MARKERS

    hits = [_sql_marker_hits(ws) for _, ws in sorted(LANG_MARKERS.items())]
    arr = "list_reverse_sort([" + ", ".join(hits) + "])"
    return f"cast(({arr})[1] - ({arr})[2] AS bigint)"


@query(
    "text_language_id_margin",
    f"""
    SELECT cast(doc_id AS bigint) AS doc_id, {_sql_lang_case()} AS lang_guess,
           {_sql_lang_margin()} AS margin
    FROM documents
    """,
)
def text_langid_margin(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID + confidence margin (top-vote minus runner-up);
    zero-margin docs are the ones to send to a heavier classifier."""
    from tera_spark.operators.textops import language_id_confidence

    docs = load(spark, sf, "documents")
    return language_id_confidence(docs)


@query(
    "text_quality_calibrated",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, {_SQL_QSCORE} AS quality_score
      FROM documents
    )
    SELECT cast(doc_id AS bigint) AS doc_id, lang,
           quality_score,
           {_t6('percent_rank() OVER (PARTITION BY lang ORDER BY quality_score, doc_id)')}
             AS lang_pct
    FROM scored
    """,
)
def text_quality_calibrated(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language calibration of the quality score: percent-rank
    within each language, so one global threshold (e.g. keep top 70%)
    applies fairly across languages whose raw-score distributions
    differ (stopword lists are language-biased). The standard fix for
    heuristic-score skew in multilingual curation.

    Scale shape: one window shuffle keyed by lang; ties broken by
    doc_id so the rank is deterministic. At 100 TB swap percent_rank
    for approx-percentile cut points per language (same note as the
    equi-depth histogram)."""
    from pyspark.sql import Window as W

    from tera_spark.operators.textops import quality_features

    docs = load(spark, sf, "documents")
    q = quality_features(docs).select("doc_id", "quality_score")
    d = docs.select("doc_id", "lang").join(q, "doc_id")
    w = W.partitionBy("lang").orderBy("quality_score", "doc_id")
    pct = F.floor(F.percent_rank().over(w) * 1_000_000).cast("double") / 1_000_000
    return d.select("doc_id", "lang", "quality_score", pct.alias("lang_pct"))


@query(
    "pipeline_contamination_report",
    f"""
    WITH ev AS (
      SELECT DISTINCT unnest({X.sql_shingles('text')}) AS g
      FROM documents WHERE doc_id % 97 = 0
    ),
    cand AS (
      SELECT doc_id, unnest(list_distinct({X.sql_shingles('text')})) AS g
      FROM documents WHERE doc_id % 97 <> 0
    ),
    flagged AS (
      SELECT doc_id, count(*) AS n_hits FROM cand JOIN ev USING (g) GROUP BY doc_id
    )
    SELECT d.source,
           cast(count(*) AS bigint) AS n_docs,
           cast(count(f.doc_id) AS bigint) AS n_contaminated,
           {_t6('count(f.doc_id)::double / count(*)')} AS contamination_rate
    FROM documents d LEFT JOIN flagged f USING (doc_id)
    WHERE d.doc_id % 97 <> 0
    GROUP BY d.source
    """,
)
def pipeline_contamination_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source contamination audit: what fraction of each ingestion
    source overlaps the held-out eval slice — the report that decides
    which source needs upstream filtering (rates localize the
    problem; doc-level flags alone don't). Composition of the
    decontamination flagger with a source rollup."""
    from tera_spark.operators.dedup import decontaminate_ngrams

    docs = load(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    flagged = decontaminate_ngrams(corpus, docs.filter(F.col("doc_id") % 97 == 0)).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("_hit")
    )
    rate = F.floor(
        (F.count("_hit").cast("double") / F.count(F.lit(1))) * 1_000_000
    ).cast("double") / 1_000_000
    return (
        corpus.select("doc_id", "source")
        .join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("_hit").cast("long").alias("n_contaminated"),
            rate.alias("contamination_rate"),
        )
    )


@query(
    "pipeline_doc_chunking",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 48)) AS start
      FROM t
    )
    SELECT cast(doc_id AS bigint) AS doc_id,
           cast(start // 48 AS bigint) AS chunk_idx,
           cast(least(64, len(toks) - start) AS bigint) AS chunk_len,
           array_to_string(toks[start + 1:start + 64], ' ') AS chunk_text
    FROM s WHERE start < len(toks)
    """,
)
def pipeline_doc_chunking(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, stride 48)
    — the context-window split stage ahead of sequence packing. See
    operators/textops.chunk_documents for the map-only plan shape."""
    from tera_spark.operators.textops import chunk_documents

    docs = load(spark, sf, "documents")
    return chunk_documents(docs, chunk_tokens=64, stride=48)


@query(
    "pipeline_dsir_importance",
    rf"""
    WITH cand_toks AS (
      SELECT doc_id, {X.sql_h60('tok')} % 256 AS b
      FROM documents, unnest({X.sql_tokens('text')}) AS u(tok)
    ),
    tgt_toks AS (
      SELECT {X.sql_h60('tok')} % 256 AS b
      FROM documents, unnest({X.sql_tokens('text')}) AS u(tok)
      WHERE lang = 'en'
    ),
    lm AS (
      SELECT s.b,
             coalesce(t.c, 0) AS t_cnt,
             coalesce(r.c, 0) AS r_cnt
      FROM range(0, 256) AS s(b)
      LEFT JOIN (SELECT b, count(*) AS c FROM tgt_toks GROUP BY b) t USING (b)
      LEFT JOIN (SELECT b, count(*) AS c FROM cand_toks GROUP BY b) r USING (b)
    ),
    scored AS (
      SELECT b,
             cast(floor((ln((t_cnt + 1) / ((SELECT sum(t_cnt) FROM lm)::double + 256))
                       - ln((r_cnt + 1) / ((SELECT sum(r_cnt) FROM lm)::double + 256)))
                        * 1000000) AS bigint) AS tok_score
      FROM lm
    )
    SELECT cast(doc_id AS bigint) AS doc_id,
           cast(count(*) AS bigint) AS n_tokens,
           cast(sum(tok_score) AS bigint) AS logw_micro
    FROM cand_toks JOIN scored USING (b)
    GROUP BY doc_id
    """,
)
def pipeline_dsir_importance(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR data selection: importance log-weights of every document
    against an English-slice target distribution (hashed-unigram LMs,
    256 buckets). See operators/textops.dsir_importance."""
    from tera_spark.operators.textops import dsir_importance

    # the target corpus is a labelled slice of the candidate pool, so
    # the predicate form builds both LMs from ONE tokenize pass (the
    # separate target tokenize+scan disappears; oracle-identical)
    docs = load(spark, sf, "documents")
    return dsir_importance(docs, target_pred=F.col("lang") == "en")


_SQL_INT8 = (
    "CASE WHEN list_max(list_transform({v}, x -> abs(x::double))) = 0 "
    "THEN list_transform({v}, x -> 0.0::double) "
    "ELSE list_transform({v}, x -> round(x::double / "
    "(list_max(list_transform({v}, y -> abs(y::double))) / 127.0))) END"
)


@query(
    "ann_int8_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS q_id, {_SQL_INT8.format(v='embedding')} AS q_codes
      FROM embeddings WHERE vec_id < 10
    ),
    v AS (
      SELECT vec_id AS v_id, {_SQL_INT8.format(v='embedding')} AS v_codes
      FROM embeddings
    ),
    sims AS (
      SELECT q.q_id, v.v_id,
             round({_sql_cos('q.q_codes', 'v.v_codes')}, 6) AS sim_q
      FROM v, q WHERE v.v_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, v_id, sim_q,
             row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, v_id) AS rank
      FROM sims
    )
    SELECT cast(q_id AS bigint) AS q_id, cast(v_id AS bigint) AS v_id, sim_q,
           cast(rank AS bigint) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_int8_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Cosine top-k over int8-quantized embeddings — the 4×-compressed
    vector-store path; cosine is scale-invariant so integer codes feed
    the similarity directly. See operators/similarity.int8_topk."""
    from tera_spark.operators.similarity import int8_topk

    emb = load(spark, sf, "embeddings")
    return int8_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _pagerank_sql(iterations: int = 5) -> str:
    """Unrolled integer-PageRank oracle over the minhash-LSH pair
    graph — the same fixed-point recurrence as operators/graph.pagerank
    (floor divisions on bigints, so both engines are bit-identical)."""
    unit = 1_000_000_000_000
    head = f"""
    WITH sigs AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM documents
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b USING (bucket) WHERE a.doc_id < b.doc_id
    ),
    e AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b AS u, id_a AS v FROM pairs
    ),
    deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT u, cast({unit} // n AS bigint) AS r FROM deg, nn)
    """
    steps = []
    for i in range(1, iterations + 1):
        steps.append(
            f""",
    r{i} AS (
      SELECT e.v AS u,
             cast((SELECT ((15 * {unit}) // 100) // n FROM nn)
                  + (85 * sum(r{i-1}.r // deg.deg)) // 100 AS bigint) AS r
      FROM e JOIN r{i-1} ON e.u = r{i-1}.u JOIN deg ON e.u = deg.u
      GROUP BY e.v
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"""
    SELECT cast(u AS bigint) AS id, r AS rank_units FROM r{iterations}
    """
    )


@query("graph_pagerank_neardup", _pagerank_sql())
def graph_pagerank_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank centrality over the minhash-LSH near-duplicate graph:
    high-rank docs are the hubs of big duplicate clusters (boilerplate
    detectors / cluster representatives). Integer fixed-point rank —
    see operators/graph.pagerank."""
    from tera_spark.operators.dedup import minhash_lsh_pairs
    from tera_spark.operators.graph import pagerank

    docs = load(spark, sf, "documents")
    return pagerank(minhash_lsh_pairs(docs), iterations=5)


@query(
    "graph_triangles_neardup",
    f"""
    WITH sigs AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM documents
    ),
    e AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM sigs a JOIN sigs b USING (bucket) WHERE a.doc_id < b.doc_id
    ),
    tri AS (
      SELECT ab.u AS a, ab.v AS b, bc.v AS c
      FROM e ab JOIN e bc ON ab.v = bc.u JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
    ),
    x AS (
      SELECT unnest([a, b, c]) AS id FROM tri
    )
    SELECT cast(id AS bigint) AS id, cast(count(*) AS bigint) AS n_triangles
    FROM x GROUP BY id
    """,
)
def graph_triangles_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle participation per document in the LSH near-dup graph —
    separates triangle-dense true duplicate clusters from chains of
    coincidental bucket collisions. See operators/graph.triangle_counts."""
    from tera_spark.operators.dedup import minhash_lsh_pairs
    from tera_spark.operators.graph import triangle_counts

    docs = load(spark, sf, "documents")
    return triangle_counts(minhash_lsh_pairs(docs))


@query(
    "events_k_anonymity_audit",
    """
    SELECT event_type,
           cast(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS bigint) AS hour_start,
           cast(json_extract(props, '$.k') AS bigint) // 10 AS k_band,
           cast(count(DISTINCT user_id) AS bigint) AS n_users,
           cast(count(*) AS bigint) AS n_events
    FROM events
    GROUP BY event_type, hour_start, k_band
    HAVING count(DISTINCT user_id) < 5
    """,
)
def events_k_anonymity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier (event_type, hour,
    banded props.k): combinations identifying fewer than k=5 distinct
    users are re-identification risks — the governance gate run before
    exporting behavioral data into a training corpus (complements
    pipeline_pseudonymize_users: pseudonyms don't help if a QI combo
    isolates one user). Plain groupBy/having — Catalyst shape."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
            F.expr("get_json_object(props, '$.k') div 10").alias("k_band"),
        )
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .filter(F.col("n_users") < 5)
    )


@query(
    "pipeline_mixture_allocation",
    r"""
    WITH src AS (
      SELECT source,
             cast(count(*) AS bigint) AS n_docs,
             cast(sum(len(string_split_regex(trim(text), '\s+'))) AS bigint) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT *, cast(floor(sqrt(n_tokens)) AS bigint) AS weight FROM src
    )
    SELECT source, n_docs, n_tokens, weight,
           cast((1000000 * weight) // (SELECT sum(weight) FROM w) AS bigint) AS alloc_tokens
    FROM w
    """,
)
def pipeline_mixture_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based data-mix allocation (alpha = 0.5, the
    multilingual-sampling standard): each source's share of a
    1M-token training budget is proportional to sqrt(its token
    count), flattening the head sources and up-weighting the tail.
    Integer weights + floor division keep the allocation bit-exact on
    any engine. Two aggregations over source — the mix planner that
    feeds weighted_interleave (sources/sharding.py)."""
    docs = load(spark, sf, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).cast("long").alias("n_tokens"),
    )
    w = src.withColumn("weight", F.floor(F.sqrt(F.col("n_tokens"))).cast("long"))
    total = w.agg(F.sum("weight").alias("_tw"))
    return w.crossJoin(F.broadcast(total)).select(
        "source", "n_docs", "n_tokens", "weight",
        F.expr("(1000000 * weight) div _tw").cast("long").alias("alloc_tokens"),
    )


@query(
    "ann_centroid_outliers",
    """
    WITH dims AS (
      SELECT vec_id, label,
             unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS ord
      FROM embeddings
    ),
    cent AS (
      SELECT label, ord, avg(x) AS m FROM dims GROUP BY label, ord
    ),
    dist AS (
      SELECT d.vec_id, d.label,
             sqrt(sum((d.x - c.m) * (d.x - c.m))) AS d2c
      FROM dims d JOIN cent c ON d.label = c.label AND d.ord = c.ord
      GROUP BY d.vec_id, d.label
    ),
    stats AS (
      SELECT label, avg(d2c) AS mu, stddev_pop(d2c) AS sd FROM dist GROUP BY label
    )
    SELECT cast(d.vec_id AS bigint) AS vec_id, d.label,
           (floor(d.d2c * 1000000)::double / 1000000) AS dist_to_centroid,
           (floor((d.d2c - s.mu) / s.sd * 1000)::double / 1000) AS z
    FROM dist d JOIN stats s ON d.label = s.label
    WHERE (d.d2c - s.mu) / s.sd > 2.0
    """,
)
def ann_centroid_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space outlier audit: each vector's L2 distance to its
    LABEL centroid, z-scored within the label; >2σ flags likely
    mislabeled/corrupted vectors before they poison contrastive
    training or ANN index balance. Centroids come from one posexplode
    + (label, dim) mean — never a driver collect; distances from a
    broadcast join of the (labels × dims)-sized centroid table back
    onto the vectors. At 100 TB the centroid table is KBs regardless
    of corpus size."""
    emb = load(spark, sf, "embeddings")
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("ord", "x")
    ).withColumn("x", F.col("x").cast("double"))
    cent = dims.groupBy("label", "ord").agg(F.avg("x").alias("m"))
    dist = (
        dims.join(F.broadcast(cent), ["label", "ord"])
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")))).alias("d2c"))
    )
    stats = dist.groupBy("label").agg(
        F.avg("d2c").alias("mu"), F.stddev_pop("d2c").alias("sd")
    )
    j = dist.join(F.broadcast(stats), "label")
    z = (F.col("d2c") - F.col("mu")) / F.col("sd")
    return j.filter(z > 2.0).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "label",
        (F.floor(F.col("d2c") * 1_000_000).cast("double") / 1_000_000).alias("dist_to_centroid"),
        (F.floor(z * 1_000).cast("double") / 1_000).alias("z"),
    )


@query(
    "pipeline_ref_integrity_audit",
    """
    SELECT
      cast((SELECT count(*) FROM embeddings e
            WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))
        AS bigint) AS vectors_without_doc,
      cast((SELECT count(*) FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id))
        AS bigint) AS docs_without_vector,
      cast((SELECT count(*) FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id)
        AS bigint) AS aligned
    """,
)
def pipeline_ref_integrity(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity audit between the text corpus and its
    embedding table — the pre-training sanity gate (every training
    pair needs both sides; orphans mean a failed embedding job or a
    dedup drop applied to only one table). ONE full-outer join on the
    shared key with conditional counts in a single aggregation — each
    side scanned once, one shuffle, no driver-side actions."""
    docs = load(spark, sf, "documents").select("doc_id")
    emb = load(spark, sf, "embeddings").select("vec_id")
    j = docs.join(emb, docs.doc_id == emb.vec_id, "full_outer")
    return j.agg(
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("vectors_without_doc"),
        F.sum(F.when(F.col("vec_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("docs_without_vector"),
        F.sum(
            F.when(F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("aligned"),
    )


@query(
    "pipeline_dedup_savings_report",
    f"""
    WITH exact_flag AS (
      SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn > 1
    ),
    sigs AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b USING (bucket) WHERE a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, list_distinct({X.sql_shingles('text')}) AS s FROM documents),
    pairs AS (
      SELECT id_a, id_b
      FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
      WHERE len(list_intersect(sa.s, sb.s))::double /
            (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
    ),
    near_flag AS (
      SELECT d.doc_id, d.n_chars
      FROM documents d JOIN (SELECT DISTINCT id_b AS doc_id FROM pairs) p USING (doc_id)
    ),
    ev AS (
      SELECT DISTINCT unnest({X.sql_shingles('text')}) AS g
      FROM documents WHERE doc_id % 97 = 0
    ),
    contam_flag AS (
      SELECT DISTINCT c.doc_id, d.n_chars
      FROM (SELECT doc_id, unnest(list_distinct({X.sql_shingles('text')})) AS g
            FROM documents WHERE doc_id % 97 <> 0) c
      JOIN ev USING (g) JOIN documents d ON d.doc_id = c.doc_id
    ),
    total AS (SELECT count(*) AS n_docs, sum(n_chars) AS n_chars FROM documents)
    SELECT method,
           cast(docs_flagged AS bigint) AS docs_flagged,
           cast(chars_flagged AS bigint) AS chars_flagged,
           (floor(chars_flagged::double / (SELECT n_chars FROM total) * 1000000)::double
             / 1000000) AS char_fraction
    FROM (
      SELECT 'exact_dup' AS method, count(*) AS docs_flagged,
             coalesce(sum(n_chars), 0) AS chars_flagged FROM exact_flag
      UNION ALL
      SELECT 'near_dup_lsh', count(*), coalesce(sum(n_chars), 0) FROM near_flag
      UNION ALL
      SELECT 'benchmark_contam', count(*), coalesce(sum(n_chars), 0) FROM contam_flag
    )
    """,
)
def pipeline_dedup_savings_report(spark: SparkSession, sf: str) -> DataFrame:
    """The savings report a curation team reads before committing to a
    dedup config: per method (exact hash, LSH-verified near-dup,
    benchmark contamination), how many docs and characters WOULD be
    dropped, as independent per-method potential (not sequential).
    Composes the same operators the individual oracled queries pin;
    each method's flag set is corpus-shaped work already analyzed in
    SCALE.md — the report adds three tiny count/sum aggregates."""
    from tera_spark.operators.dedup import (
        decontaminate_ngrams,
        verified_near_duplicates,
    )
    from pyspark.sql import Window as W

    docs = load(spark, sf, "documents")
    total_chars = docs.agg(F.sum("n_chars").alias("t"))

    # exact: every copy beyond the min-doc_id keeper of its text hash
    w = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    exact_flag = (
        docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") > 1)
        .select("doc_id", "n_chars")
    )

    near_ids = (
        verified_near_duplicates(docs, threshold=0.5)
        .select(F.col("id_b").cast("long").alias("doc_id"))
        .distinct()
    )
    near_flag = docs.join(near_ids, "doc_id").select("doc_id", "n_chars")

    contam_flag = (
        decontaminate_ngrams(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
        )
        .select(F.col("id").cast("long").alias("doc_id"))
        .join(docs, "doc_id")
        .select("doc_id", "n_chars")
    )

    def row(method, flag):
        return flag.agg(
            F.lit(method).alias("method"),
            F.count("*").cast("long").alias("docs_flagged"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("chars_flagged"),
        )

    rep = row("exact_dup", exact_flag).unionByName(
        row("near_dup_lsh", near_flag)
    ).unionByName(row("benchmark_contam", contam_flag))
    return rep.crossJoin(F.broadcast(total_chars)).select(
        "method",
        "docs_flagged",
        "chars_flagged",
        (F.floor(F.col("chars_flagged") / F.col("t") * 1_000_000).cast("double") / 1_000_000)
        .alias("char_fraction"),
    )


@query(
    "dedup_cross_source_matrix",
    f"""
    WITH sigs AS (
      SELECT doc_id, unnest({X.sql_band_keys(X.sql_minhash_signature('text'))}) AS bucket
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b USING (bucket) WHERE a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, list_distinct({X.sql_shingles('text')}) AS s FROM documents),
    pairs AS (
      SELECT id_a, id_b
      FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
      WHERE len(list_intersect(sa.s, sb.s))::double /
            (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           cast(count(*) AS bigint) AS n_pairs
    FROM pairs
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source duplication matrix: near-duplicate pair counts per
    (source, source) — the syndication detector. A heavy off-diagonal
    cell means two feeds republish each other (dedup one before
    paying to process both); a heavy diagonal means a source
    self-duplicates (template spam). Pairs come from the same
    LSH→verify pipeline the dedup queries pin; sources join back on
    doc id (uniform key), and the matrix is sources²-sized."""
    from tera_spark.operators.dedup import verified_near_duplicates

    docs = load(spark, sf, "documents")
    pairs = verified_near_duplicates(docs, threshold=0.5)
    src = docs.select("doc_id", "source")
    a = src.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "sa")
    b = src.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "sb")
    j = pairs.join(a, "id_a").join(b, "id_b")
    return (
        j.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "dedup_containment_pairs",
    f"""
    WITH base AS (
      SELECT doc_id, list_distinct({X.sql_shingles('text')}) AS sh
      FROM documents
    ),
    keys AS (
      SELECT doc_id,
             unnest(list_sort(list_distinct(list_transform(
               sh, s -> {X.sql_h60('s')} % {X.P31})))[1:5]) AS bucket
      FROM base
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
      FROM keys a JOIN keys b USING (bucket) WHERE a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT cast(ia AS bigint) AS id_a, cast(ib AS bigint) AS id_b,
             len(list_intersect(a.sh, b.sh))::double / len(a.sh) AS c_ab,
             len(list_intersect(a.sh, b.sh))::double / len(b.sh) AS c_ba
      FROM cand JOIN base a ON a.doc_id = ia JOIN base b ON b.doc_id = ib
    )
    SELECT id_a, id_b, round(greatest(c_ab, c_ba), 6) AS containment,
           CASE WHEN c_ab >= c_ba THEN 'a_in_b' ELSE 'b_in_a' END AS direction
    FROM scored WHERE round(greatest(c_ab, c_ba), 6) >= 0.5
    """,
)
def dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Containment (asymmetric) near-dup detection — the doc-inside-doc
    case symmetric Jaccard misses: an excerpt fully contained in a
    longer page scores J = |A|/|B| (low) but C(A→B) = 1.0. Bottom-k
    sketch candidates → exact set-containment verify (operators/
    dedup.containment_pairs)."""
    from tera_spark.operators.dedup import containment_pairs

    docs = load(spark, sf, "documents")
    return containment_pairs(docs, threshold=0.5, k=5).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "containment",
        "direction",
    )


@query(
    "text_pmi_collocations",
    """
    WITH toks AS (SELECT string_split_regex(trim(text), '\\s+') AS t
                  FROM documents),
    bi AS (SELECT t[i] AS w1, t[i+1] AS w2 FROM toks, unnest(range(1, len(t))) AS u(i)),
    bc AS (SELECT w1, w2, count(*) AS n_ab FROM bi GROUP BY 1, 2),
    uc AS (SELECT w, count(*) AS n_w FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
    tot AS (SELECT (SELECT sum(n_ab)::double FROM bc) AS nb,
                   (SELECT sum(n_w)::double FROM uc) AS nt)
    SELECT w1, w2, cast(n_ab AS bigint) AS n_ab,
           cast(floor((ln(n_ab::double) + 2 * ln(nt) - ln(nb)
                       - ln(a.n_w::double) - ln(b.n_w::double)) * 1000000) AS bigint)
             AS pmi_micro
    FROM bc JOIN uc a ON a.w = w1 JOIN uc b ON b.w = w2 CROSS JOIN tot
    WHERE n_ab >= 5
    ORDER BY pmi_micro DESC, w1, w2 LIMIT 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """PMI collocation mining: top adjacent-word pairs by pointwise
    mutual information ln(p(ab) / (p(a)·p(b))) with a min-support
    floor — the phrase-discovery pass a tokenizer/data pipeline runs
    to find multi-word units worth merging (cf. word2phrase / BPE
    seeding). PMI is floor-quantized to integer micro-nats from the
    same fixed expression shape on both engines, so ranking and
    hashes are bit-stable.

    Scale shape: bigram/unigram counts are two map-side-combined
    aggregations over the token stream; the unigram table is
    vocabulary-sized → broadcast joins onto the bigram table; the
    corpus totals ride in as broadcast 1-row aggregates; TakeOrdered
    top-k, no global sort."""
    docs = load(spark, sf, "documents")
    toks = docs.select(F.split(F.trim("text"), r"\s+").alias("t"))
    t = F.col("t")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(t) - 2),
        lambda i: F.struct(F.get(t, i).alias("w1"), F.get(t, i + 1).alias("w2")),
    )
    bi = (
        toks.filter(F.size(t) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    bc = bi.groupBy("w1", "w2").agg(F.count("*").alias("n_ab"))
    uc = toks.select(F.explode(t).alias("w")).groupBy("w").agg(F.count("*").alias("n_w"))
    nb = bc.agg(F.sum("n_ab").cast("double").alias("nb"))
    nt = uc.agg(F.sum("n_w").cast("double").alias("nt"))
    a = uc.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a"))
    b = uc.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b"))
    pmi = F.floor(
        (
            F.log(F.col("n_ab").cast("double"))
            + 2 * F.log("nt")
            - F.log("nb")
            - F.log(F.col("n_a").cast("double"))
            - F.log(F.col("n_b").cast("double"))
        )
        * 1_000_000
    ).cast("long")
    return (
        bc.filter(F.col("n_ab") >= 5)
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nt))
        .select("w1", "w2", F.col("n_ab").cast("long").alias("n_ab"), pmi.alias("pmi_micro"))
        .orderBy(F.desc("pmi_micro"), "w1", "w2")
        .limit(20)
    )


@query(
    "pipeline_filter_audit",
    f"""
    WITH t AS (SELECT doc_id, {X.sql_tokens('text')} AS tk FROM documents),
    s AS (
      SELECT doc_id, len(tk) AS n,
        {_t6("list_aggregate(list_transform(list_distinct(tk),"
             " w -> len(list_filter(tk, x -> x = w))), 'max')::double"
             " / greatest(len(tk), 1)")} AS topfrac,
        {_t6("len(list_filter(tk, x -> lower(x) IN ('the','a','of','to',"
             "'and','in','is','it','that','for')))::double"
             " / greatest(len(tk), 1)")} AS stopr
      FROM t
    )
    SELECT cast(doc_id AS bigint) AS doc_id,
           n < 25 AS flag_short,
           topfrac > 0.15 AS flag_repetitive,
           stopr < 0.02 AS flag_low_stopword,
           cast((n < 25)::int + (topfrac > 0.15)::int + (stopr < 0.02)::int
                AS bigint) AS n_flags,
           CASE WHEN n >= 25 AND topfrac <= 0.15 AND stopr >= 0.02
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM s
    """,
)
def pipeline_filter_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-filter AUDIT table: one row per document with a boolean
    per curation rule (Gopher-style length / repetition / stopword
    gates), the flag count, and the keep/drop verdict — the
    observability layer every production filter pipeline needs ("WHY
    did this doc drop, and which rule dominates per source"). Ratios
    floor-truncate to 6 decimals before the threshold compare so the
    verdicts are bit-stable across engines.

    Scale shape: pure per-row array arithmetic, map-only, zero
    shuffles at any corpus size."""
    from tera_spark.functions.text import tokens

    docs = load(spark, sf, "documents")
    d = (
        docs.withColumn("_tk", tokens(F.col("text")))
        .withColumn("_n", F.size("_tk"))
        .withColumn(
            "_topfrac",
            F.floor(
                F.array_max(
                    F.transform(
                        F.array_distinct(F.col("_tk")),
                        lambda w: F.size(F.filter(F.col("_tk"), lambda x: x == w)),
                    )
                ).cast("double")
                / F.greatest(F.col("_n"), F.lit(1))
                * 1_000_000
            ).cast("double")
            / 1_000_000,
        )
        .withColumn(
            "_stopr",
            F.floor(
                F.size(
                    F.filter(F.col("_tk"), lambda x: F.lower(x).isin(
                        "the", "a", "of", "to", "and", "in", "is", "it", "that", "for"
                    ))
                ).cast("double")
                / F.greatest(F.col("_n"), F.lit(1))
                * 1_000_000
            ).cast("double")
            / 1_000_000,
        )
    )
    short = F.col("_n") < 25
    rep = F.col("_topfrac") > 0.15
    lowstop = F.col("_stopr") < 0.02
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        short.alias("flag_short"),
        rep.alias("flag_repetitive"),
        lowstop.alias("flag_low_stopword"),
        (short.cast("int") + rep.cast("int") + lowstop.cast("int"))
        .cast("long")
        .alias("n_flags"),
        F.when(~short & ~rep & ~lowstop, F.lit("keep")).otherwise(F.lit("drop")).alias("verdict"),
    )


@query(
    "text_vocab_profile",
    """
    WITH toks AS (
      SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    freq AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2)
    SELECT source,
           cast(sum(c) AS bigint) AS n_tokens,
           cast(count(*) AS bigint) AS n_types,
           (floor(count(*)::double / sum(c) * 1000000)::double / 1000000) AS ttr,
           (floor(sum((c = 1)::int)::double / count(*) * 1000000)::double / 1000000)
             AS hapax_frac
    FROM freq GROUP BY source ORDER BY source
    """,
)
def text_vocab_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary profile per ingestion source: type-token ratio and
    hapax-legomenon fraction — the lexical-diversity diagnostics read
    next to the Zipf slope (low TTR = repetitive/boilerplate source;
    hapax collapse = template spam). Pure integer counts divided once
    and floor-truncated, so values are bit-stable across engines.

    Scale shape: one token explode into a (source, token) count (two
    map-side-combined aggregations on one key prefix, ONE exchange),
    then a source-cardinality rollup."""
    docs = load(spark, sf, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    freq = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))

    def t6(x):
        return (F.floor(x * 1_000_000).cast("double") / 1_000_000)

    return (
        freq.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            t6(F.count("*").cast("double") / F.sum("c")).alias("ttr"),
            t6(
                F.sum((F.col("c") == 1).cast("int")).cast("double") / F.count("*")
            ).alias("hapax_frac"),
        )
        .orderBy("source")
    )


@query(
    "ann_embedding_health",
    """
    WITH dims AS (
      SELECT vec_id, label, unnest(embedding)::double AS x,
             generate_subscripts(embedding, 1) AS ord
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, label, sum(x * x) AS n2 FROM dims GROUP BY 1, 2
    ),
    cent AS (
      SELECT label, ord, avg(x) AS m FROM dims GROUP BY 1, 2
    ),
    cnorm AS (SELECT label, sum(m * m) AS c2 FROM cent GROUP BY 1)
    SELECT n.label,
           cast(count(*) AS bigint) AS n_vecs,
           (floor(avg(sqrt(n.n2)) * 1000000)::double / 1000000) AS mean_norm,
           (floor(sqrt(any_value(c.c2)) * 1000000)::double / 1000000) AS centroid_norm,
           (floor(any_value(c.c2) / avg(n.n2) * 1000000)::double / 1000000)
             AS anisotropy
    FROM norms n JOIN cnorm c ON n.label = c.label
    GROUP BY n.label ORDER BY n.label
    """,
)
def ann_embedding_health(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-health audit per label: vector-norm statistics and
    anisotropy (centroid-norm² over mean squared norm — 1.0 means the
    label's vectors collapsed to one direction, ~0 means they spread;
    collapsed labels break contrastive training and IVF balance).
    Runs before any index build, next to ann_centroid_outliers.

    Scale shape: one posexplode feeding two aggregations (per-vector
    norms; per-(label, dim) centroid — the centroid table is
    labels × dims = KBs at any corpus size, broadcast back)."""
    emb = load(spark, sf, "embeddings")
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("ord", "x")
    ).withColumn("x", F.col("x").cast("double"))
    norms = dims.groupBy("vec_id", "label").agg(F.sum(F.col("x") * F.col("x")).alias("n2"))
    cent = dims.groupBy("label", "ord").agg(F.avg("x").alias("m"))
    cnorm = cent.groupBy("label").agg(F.sum(F.col("m") * F.col("m")).alias("c2"))

    def t6(x):
        return (F.floor(x * 1_000_000).cast("double") / 1_000_000)

    return (
        norms.join(F.broadcast(cnorm), "label")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            t6(F.avg(F.sqrt("n2"))).alias("mean_norm"),
            t6(F.sqrt(F.any_value("c2"))).alias("centroid_norm"),
            t6(F.any_value("c2") / F.avg("n2")).alias("anisotropy"),
        )
        .orderBy("label")
    )


@query(
    "multimodal_mp3_metadata",
    """
    WITH m AS (
      SELECT doc_id AS id, 30 + (n_chars % 40) AS nf,
             [44100,48000,32000][(doc_id % 3) + 1] AS rate,
             CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 10 + 3 * (doc_id % 17) END AS id3v2,
             CASE WHEN doc_id % 5 = 0 THEN 128 ELSE 0 END AS id3v1
      FROM documents WHERE doc_id % 13 = 0
    ),
    fr AS (
      SELECT id, nf, rate, id3v2, id3v1, i,
             [32,40,48,56,64,80,96,112,128,160,192,224,256,320][
               CASE WHEN id % 2 = 0 THEN 1 + ((id + i*3) % 14) ELSE 1 + (id % 14) END
             ] AS kbps,
             i % 2 AS pad
      FROM m, unnest(range(0, nf)) AS t(i)
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(id3v2 + id3v1 + sum(144000 * kbps // rate + pad) AS bigint) AS n_bytes,
           cast(nf AS bigint) AS n_frames,
           cast(rate AS int) AS sample_rate,
           cast(nf * 1152 * 1000 // rate AS bigint) AS duration_ms,
           CASE WHEN id % 2 = 0 THEN 'vbr' ELSE 'cbr' END AS mode,
           cast(sum(kbps) // nf AS bigint) AS avg_kbps,
           cast(id3v2 AS bigint) AS id3v2_bytes,
           cast(id % 5 = 0 AS int) AS has_id3v1,
           CASE WHEN id % 2 = 0 THEN 'Xing' ELSE 'Info' END AS vbr_tag
    FROM fr GROUP BY id, nf, rate, id3v2, id3v1
    """,
)
def multimodal_mp3_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """REAL MP3 container-metadata walk end-to-end: one genuine MPEG-1
    Layer III stream per document (operators/mp3.py encode_mp3, MP3_*
    formulas — even ids VBR+Xing, odd CBR+Info, ID3v2 prefix and
    ID3v1 trailer presence varying by id), re-parsed by the frame-sync
    walk inside the Arrow-batched extractor. The oracle replays frame
    sizes from the spec arithmetic (144000·kbps//rate + padding) and
    the bitrate table as SQL — n_bytes pins every frame boundary, so a
    walk that loses sync or mis-sizes one frame cannot hash-match."""
    from tera_spark.operators.multimodal import extract_mp3_metadata, synth_mp3_media

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 13 == 0)
    return extract_mp3_metadata(synth_mp3_media(docs))


@query(
    "multimodal_format_sniff",
    """
    SELECT CASE doc_id % 8 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                WHEN 2 THEN 'gif' WHEN 3 THEN 'webp' WHEN 4 THEN 'wav'
                WHEN 5 THEN 'y4m' WHEN 6 THEN 'mp3' ELSE 'unknown'
           END AS format,
           cast(count(*) AS bigint) AS n_assets,
           cast(min(doc_id) AS bigint) AS first_id,
           cast(max(doc_id) AS bigint) AS last_id
    FROM documents GROUP BY 1
    """,
)
def multimodal_format_sniff(spark: SparkSession, sf: str) -> DataFrame:
    """Container triage census — the first stage of a multimodal crawl
    pipeline. Every document is routed by id to one of the seven REAL
    fixture encoders (PNG/JPEG/GIF/WebP/WAV/Y4M/MP3) or to garbage
    bytes, and the magic-byte sniffer (pure JVM expressions, no
    Python) must put each payload back in its encoder's class — the
    oracle knows the routing, so one mis-sniffed container breaks the
    census counts. Map-only over payloads + an 8-group agg; payloads
    never shuffle (the agg carries only the format string)."""
    from functools import reduce

    from tera_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        sniff_formats,
        synth_gif_media,
        synth_jpeg_media,
        synth_mp3_media,
        synth_png_media,
        synth_wav_media,
        synth_webp_media,
        synth_y4m_media,
    )

    docs = load(spark, sf, "documents")
    synths = [
        synth_png_media, synth_jpeg_media, synth_gif_media, synth_webp_media,
        synth_wav_media, synth_y4m_media, synth_mp3_media,
    ]
    parts = [fn(docs.filter(F.col("doc_id") % 8 == k)) for k, fn in enumerate(synths)]
    garbage = docs.filter(F.col("doc_id") % 8 == 7).select(
        F.col("doc_id").alias("asset_id"),
        F.lit("unknown").alias("media_type"),
        F.expr("unhex('00DEADBEEF00112233')").alias("payload"),
        F.lit(None).cast(MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    media = reduce(DataFrame.unionByName, parts + [garbage])
    return sniff_formats(media).groupBy("format").agg(
        F.count("*").cast("long").alias("n_assets"),
        F.min("asset_id").cast("long").alias("first_id"),
        F.max("asset_id").cast("long").alias("last_id"),
    )


@query(
    "multimodal_audio_fingerprint",
    """
    WITH m AS (
      SELECT doc_id AS id, 64 + (n_chars % 128) AS cnt
      FROM documents WHERE doc_id % 9 = 4
    ),
    s AS (
      SELECT id, cnt, i // 16 AS k,
             abs(((id*7 + i*13) % 2048 - 1024) * 16) AS a
      FROM m, unnest(range(0, (cnt // 16) * 16)) AS t(i)
    ),
    e AS (SELECT id, cnt, k, sum(a) AS e FROM s GROUP BY id, cnt, k),
    b AS (
      SELECT id, cnt, k, e,
             lead(e) OVER (PARTITION BY id ORDER BY k) AS e_next
      FROM e
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(cnt // 16 AS bigint) AS n_windows,
           cast(coalesce(sum(CASE WHEN e_next > e THEN 1 << k ELSE 0 END), 0)
             AS bigint) AS fp,
           cast(sum(e) AS bigint) AS energy_sum
    FROM b GROUP BY id, cnt
    """,
)
def multimodal_audio_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Energy-contour audio fingerprint over REAL PCM16 WAV decode:
    one genuine WAV per document (synth_wav_media's closed-form
    samples), decoded by the stdlib parser inside the Arrow-batched
    extractor, windowed into 16-sample energy sums, and the adjacent
    louder/quieter pattern packed into one long. The oracle replays
    the sample formula, windowing, and bit packing as integer SQL —
    every fingerprint bit is pinned, so an off-by-one in windowing or
    delta direction cannot hash-match."""
    from tera_spark.operators.multimodal import audio_fingerprints, synth_wav_media

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 9 == 4)
    return audio_fingerprints(synth_wav_media(docs), window=16)


@query(
    "multimodal_scene_cuts",
    """
    WITH m AS (
      SELECT doc_id AS id, 2 + doc_id % 5 AS nf
      FROM documents WHERE doc_id % 9 = 7
    ),
    fr AS (
      SELECT id, nf, f,
             abs((id*53 + f*19) % 256 - (id*53 + (f-1)*19) % 256) AS dpp
      FROM m, unnest(range(1, nf)) AS t(f)
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(nf AS bigint) AS n_frames,
           cast(coalesce(sum(CASE WHEN dpp > 100 THEN 1 ELSE 0 END), 0)
             AS bigint) AS n_cuts,
           cast(coalesce(min(CASE WHEN dpp > 100 THEN f END), -1)
             AS bigint) AS first_cut
    FROM fr GROUP BY id, nf
    """,
)
def multimodal_scene_cuts(spark: SparkSession, sf: str) -> DataFrame:
    """Shot-boundary detection over REAL Y4M decode: one genuine
    multi-frame clip per document (synth_y4m_media's constant-luma
    frames), cut wherever the mean-luma jump between adjacent frames
    exceeds 100 (integer-exact sum compare, no float mean). The
    fixture's luma ramp wraps mod 256, so cuts land exactly at the
    wraparound frames — the oracle replays the per-pixel delta in SQL
    and pins count and first position."""
    from tera_spark.operators.multimodal import scene_cuts, synth_y4m_media

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 9 == 7)
    return scene_cuts(synth_y4m_media(docs), threshold=100)


@query(
    "multimodal_cross_container_dups",
    """
    WITH px AS (
      SELECT doc_id AS id, i, (doc_id*19 + i*23) % 256 AS p
      FROM documents, unnest(range(0, 64)) AS t(i)
      WHERE doc_id % 10 = 1
    ),
    s AS (SELECT id, sum(p) AS s64 FROM px GROUP BY id),
    halves AS (
      SELECT px.id,
             sum(CASE WHEN i < 32 AND 64*p > s64 THEN 1::bigint << i ELSE 0 END) AS lo,
             sum(CASE WHEN i >= 32 AND 64*p > s64 THEN 1::bigint << (i-32) ELSE 0 END) AS hi
      FROM px JOIN s USING (id) GROUP BY px.id
    )
    SELECT cast(id AS bigint) AS doc_id,
           cast(CASE WHEN u >= 9223372036854775808::hugeint
                     THEN u - 18446744073709551616::hugeint ELSE u END
             AS bigint) AS phash,
           cast(3 AS bigint) AS n_containers,
           cast(1 AS bigint) AS n_distinct_phash
    FROM (SELECT id, hi::hugeint * 4294967296::hugeint + lo::hugeint AS u
          FROM halves)
    """,
)
def multimodal_cross_container_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-container image dedup — the SAME gray plane is encoded
    per document as PNG, GIF, and WebP-lossless, each decoded for
    real, and all three must land on ONE perceptual hash per document
    (n_distinct_phash = 1): the strongest cross-codec consistency
    statement the tier can make, since a single pixel of drift in any
    decoder splits the cluster. Dimensions sit in the aHash cell=1
    regime, so the oracle replays every hash bit as integer SQL
    (bit i = 64·p_i > Σp, packed in two 32-bit halves) — the hash
    VALUE is pinned, not just the agreement."""
    from tera_spark.operators.multimodal import (
        phash_df,
        synth_cross_container_media,
    )

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 10 == 1)
    hashed = phash_df(synth_cross_container_media(docs))
    return hashed.groupBy(F.col("asset_id").alias("doc_id")).agg(
        F.min("phash").alias("phash"),
        F.count("*").cast("long").alias("n_containers"),
        F.countDistinct("phash").cast("long").alias("n_distinct_phash"),
    )


@query(
    "ann_filtered_topk",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
    sims AS (
      SELECT q.q_id, v.vec_id AS v_id, v.label,
             round({_sql_cos('q.q_vec', 'v.embedding')}, 6) AS sim
      FROM embeddings v, q WHERE v.vec_id <> q.q_id AND v.label % 2 = 0
    ),
    ranked AS (
      SELECT q_id, v_id, label, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, v_id) AS rank
      FROM sims
    )
    SELECT cast(q_id AS bigint) AS q_id, cast(v_id AS bigint) AS v_id,
           cast(label AS int) AS label, sim, cast(rank AS bigint) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_filtered_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-filtered nearest-neighbour search — the predicate
    (here label parity; in production language/license/dedup-survivor)
    prunes the candidate corpus BEFORE any distance math, so every one
    of the k answers satisfies it and ranks are full-recall against
    the filtered corpus (post-filtering under-fills k under selective
    predicates). This row oracles the exact path; the persisted
    IVF-PQ index takes the same allow-list via
    VectorIndex.topk(allowed=...) — semi-joined at the codes scan,
    pinned by unit tests against this exact twin."""
    from tera_spark.operators.similarity import cosine_topk

    emb = load(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    hits = cosine_topk(emb.filter(F.col("label") % 2 == 0), qs, k=5)
    lbl = emb.select(F.col("vec_id").alias("v_id"), "label")
    return hits.join(F.broadcast(lbl), "v_id").select(
        "q_id", "v_id", F.col("label").cast("int").alias("label"), "sim", "rank"
    )


@query(
    "multimodal_flac_features",
    """
    WITH m AS (
      SELECT doc_id AS id, 64 + (n_chars % 96) AS cnt,
             [8000, 16000, 32000][(doc_id % 3) + 1] AS rate,
             CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS ch
      FROM documents WHERE doc_id % 9 = 2
    ),
    s AS (
      SELECT id, cnt, rate, ch,
             ((id*31 + i*17) % 2048) - 1024 AS l,
             CASE WHEN ch = 2 THEN ((id*13 + i*29) % 2048) - 1024
                  ELSE 0 END AS r
      FROM m, unnest(range(0, cnt)) AS t(i)
    )
    SELECT cast(id AS bigint) AS doc_id,
           cast(any_value(rate) AS int) AS sample_rate,
           cast(any_value(ch) AS int) AS channels,
           cast(any_value(cnt) AS bigint) AS n_samples,
           cast((any_value(cnt) + 63) // 64 AS bigint) AS n_frames,
           cast(any_value(cnt) * 1000 // any_value(rate) AS bigint)
             AS duration_ms,
           cast(sum(l) + sum(r) AS bigint) AS sample_sum,
           cast(sum(l*l) + sum(r*r) AS bigint) AS energy
    FROM s GROUP BY id
    """,
)
def multimodal_flac_features(spark: SparkSession, sf: str) -> DataFrame:
    """The lossless audio tier decoded for REAL — a full FLAC
    bitstream decoder (operators/flac.py: STREAMINFO, UTF-8 frame
    numbers, CRC-8/CRC-16, CONSTANT/VERBATIM/FIXED/LPC subframes,
    Rice partitions, mid/side stereo, STREAMINFO MD5 over the PCM).
    Fixtures rotate subframe modes and stereo by doc_id (synth_flac_
    media's FLAC_* formulas), so every decode path carries traffic;
    the oracle replays the sample formulas, frame count, and energy
    as integer SQL — a single wrong sample anywhere fails the MD5
    check first and the hash match second."""
    from tera_spark.operators.multimodal import (
        extract_flac_features,
        synth_flac_media,
    )

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 9 == 2)
    feats = extract_flac_features(synth_flac_media(docs))
    return feats.select(
        F.col("asset_id").alias("doc_id"),
        "sample_rate",
        "channels",
        "n_samples",
        "n_frames",
        "duration_ms",
        "sample_sum",
        "energy",
    )


_SQL_EMB_NORM2 = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "{v}[i]::double * {v}[i]::double), (x, y) -> x + y)"
)


@query(
    "ann_filtered_selective",
    f"""
    WITH nrm AS (
      SELECT vec_id,
             list_transform(range(1, 65), i ->
               embedding[i]::double /
               greatest(sqrt({_SQL_EMB_NORM2.format(v='embedding')}), 1e-12))
               AS nv
      FROM embeddings
    ),
    store AS (  -- the refinement store: normalized, float32-quantized
      SELECT vec_id AS v_id,
             list_transform(nv, x -> x::float) AS rv
      FROM nrm WHERE vec_id % 20 = 7
    ),
    q AS (SELECT vec_id AS q_id, nv AS qv FROM nrm WHERE vec_id < 8),
    d AS (
      SELECT q.q_id, s.v_id,
             round(list_reduce(list_transform(range(1, 65), i ->
               (q.qv[i] - s.rv[i]::double) * (q.qv[i] - s.rv[i]::double)),
               (x, y) -> x + y), 6) AS d2
      FROM store s, q WHERE s.v_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, v_id, d2,
             row_number() OVER (PARTITION BY q_id ORDER BY d2, v_id) AS rank
      FROM d
    )
    SELECT cast(q_id AS bigint) AS q_id, cast(v_id AS bigint) AS v_id,
           d2, cast(rank AS bigint) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_filtered_selective(spark: SparkSession, sf: str) -> DataFrame:
    """SELECTIVE metadata-filtered search through the persisted
    IVF-PQ index — the failure mode pre-filtered IVF is known for
    (a 5% allow-list concentrated in unprobed cells) and the round-7
    mitigation: VectorIndex.topk(allowed=...) counts the allow-list
    and, below brute_limit, bypasses probing entirely to exact-score
    the FILTERED refinement store (full recall by construction; cost
    O(allowed x queries), not corpus-sized). Above the limit the
    probe count scales inversely with selectivity. This row drives
    the real index artifact end-to-end — build (or per-app-scratch
    reuse), refinement-store write, allow-list semi-join, fallback
    ranking — and the oracle replays the store's exact arithmetic:
    L2-normalize in double, quantize to float32 (the store's format),
    exact L2 in double, round 6, rank by (d2, v_id)."""
    from pathlib import Path

    from tera_spark.functions.cache import app_scratch_dir
    from tera_spark.operators.vector_index import VectorIndex

    emb = load(spark, sf, "embeddings")
    # app-keyed + atexit-reaped: a new process never reuses another
    # process's appId-named scratch, so at-exit removal loses nothing
    scratch = Path(app_scratch_dir(spark, "vecidx_" + Path(sf).name))
    if (scratch / "meta.json").exists():
        idx = VectorIndex.load(spark, str(scratch))
    else:
        idx = VectorIndex.build(
            emb, str(scratch), k_coarse=4, m=8, k_codes=16, iters=1
        )
    qs = emb.filter(F.col("vec_id") < 8)
    allowed = emb.filter(F.col("vec_id") % 20 == 7).select("vec_id")
    hits = idx.topk(qs, k=5, allowed=allowed)  # 25 ids -> brute fallback
    return hits.select("q_id", "v_id", "d2", "rank")


@query(
    "dedup_cluster_dashboard",
    f"""
    WITH keyed AS (
      SELECT doc_id, i - 1 AS band, ks[i] AS bucket
      FROM (SELECT doc_id, {X.sql_band_keys(X.sql_minhash_signature('text'))} AS ks
            FROM documents),
           unnest(range(1, {X.N_BANDS} + 1)) AS u(i)
    ),
    sizes AS (
      SELECT band, bucket, count(*) AS sz FROM keyed GROUP BY band, bucket
    )
    SELECT cast(band AS bigint) AS band,
           cast(count(*) AS bigint) AS n_buckets,
           cast(sum(sz) AS bigint) AS n_docs,
           cast(max(sz) AS bigint) AS max_bucket,
           cast(sum(sz * (sz - 1) // 2) AS bigint) AS candidate_pairs,
           cast(sum(CASE WHEN sz > 16 THEN 1 ELSE 0 END) AS bigint)
             AS n_over_cap
    FROM sizes GROUP BY band
    """,
)
def dedup_cluster_dashboard(spark: SparkSession, sf: str) -> DataFrame:
    """Per-band LSH bucket audit (operators/dedup.lsh_bucket_stats) —
    what an operator reads BEFORE generating pairs on a new corpus:
    bucket counts, the largest bucket, the candidate-pair volume each
    band would emit (sum C(size,2)), and how many buckets exceed the
    pair-generation cap. A boilerplate/empty-doc hot bucket shows up
    as max_bucket/pair-volume blowup while the run is still one cheap
    aggregation, never a quadratic join. The oracle replays the exact
    minhash signature and band-key md5s (shared constants in
    functions/text.py), so every bucket boundary is pinned."""
    from tera_spark.operators.dedup import lsh_bucket_stats

    docs = load(spark, sf, "documents")
    return lsh_bucket_stats(docs, cap=16)


@query(
    "pipeline_media_curation",
    """
    WITH png AS (
      SELECT 'png' AS format, count(*) AS n_assets,
             sum(CASE WHEN (8 + doc_id % 9) * (8 + n_chars % 7) >= 80
                 THEN 1 ELSE 0 END) AS n_kept
      FROM documents WHERE doc_id % 8 = 0
    ),
    jpeg AS (
      SELECT 'jpeg', count(*),
             sum(CASE WHEN (8 * (1 + doc_id % 3)) * (8 * (1 + n_chars % 2)) >= 80
                 THEN 1 ELSE 0 END)
      FROM documents WHERE doc_id % 8 = 1
    ),
    gif AS (
      SELECT 'gif', count(*),
             sum(CASE WHEN (6 + doc_id % 11) * (5 + n_chars % 9) >= 80
                 THEN 1 ELSE 0 END)
      FROM documents WHERE doc_id % 8 = 2
    ),
    webp AS (
      SELECT 'webp', count(*),
             sum(CASE WHEN (5 + doc_id % 9) * (4 + n_chars % 7) >= 80
                 THEN 1 ELSE 0 END)
      FROM documents WHERE doc_id % 8 = 3
    ),
    wav AS (
      SELECT 'wav', count(*),
             sum(CASE WHEN (64 + n_chars % 128) * 1000
                           // (8000 * (1 + doc_id % 3)) >= 8
                 THEN 1 ELSE 0 END)
      FROM documents WHERE doc_id % 8 = 4
    ),
    y4m AS (
      SELECT 'y4m', count(*),
             sum(CASE WHEN 2 + doc_id % 5 >= 4 THEN 1 ELSE 0 END)
      FROM documents WHERE doc_id % 8 = 5
    ),
    mp3 AS (
      SELECT 'mp3', count(*),
             sum(CASE WHEN (30 + n_chars % 40) * 1152 * 1000
                           // ([44100,48000,32000][(doc_id % 3) + 1]) >= 1200
                 THEN 1 ELSE 0 END)
      FROM documents WHERE doc_id % 8 = 6
    ),
    unk AS (
      SELECT 'unknown', count(*), 0 FROM documents WHERE doc_id % 8 = 7
    ),
    u AS (
      SELECT * FROM png UNION ALL SELECT * FROM jpeg UNION ALL
      SELECT * FROM gif UNION ALL SELECT * FROM webp UNION ALL
      SELECT * FROM wav UNION ALL SELECT * FROM y4m UNION ALL
      SELECT * FROM mp3 UNION ALL SELECT * FROM unk
    )
    SELECT format, cast(n_assets AS bigint) AS n_assets,
           cast(n_kept AS bigint) AS n_kept
    FROM u
    """,
)
def pipeline_media_curation(spark: SparkSession, sf: str) -> DataFrame:
    """The media tier composed end-to-end — the capstone pipeline a
    crawl operator actually runs: route every asset by magic bytes,
    decode through the format's REAL codec, apply a per-modality
    quality gate (images: >= 80 decoded pixels; WAV: >= 8 ms; MP3:
    >= 1200 ms of frames; video: >= 4 frames; unsniffable: drop), and
    census keep/drop per format. Every gate reads a value the real
    decode produced, so the oracle's closed-form replay of the keep
    counts transitively pins sniff routing AND all seven decoders in
    one driver row. Payloads never shuffle; the census agg carries
    three scalars per format."""
    from functools import reduce

    from tera_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
        extract_features,
        extract_mp3_metadata,
        scene_cuts,
        sniff_formats,
        synth_gif_media,
        synth_jpeg_media,
        synth_mp3_media,
        synth_png_media,
        synth_wav_media,
        synth_webp_media,
        synth_y4m_media,
    )

    docs = load(spark, sf, "documents")
    synths = [
        synth_png_media, synth_jpeg_media, synth_gif_media, synth_webp_media,
        synth_wav_media, synth_y4m_media, synth_mp3_media,
    ]
    parts = [fn(docs.filter(F.col("doc_id") % 8 == k)) for k, fn in enumerate(synths)]
    garbage = docs.filter(F.col("doc_id") % 8 == 7).select(
        F.col("doc_id").alias("asset_id"),
        F.lit("unknown").alias("media_type"),
        F.expr("unhex('00FEEDFACE')").alias("payload"),
        F.lit(None).cast(MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    # six branches read the bag (five decode routes + the final format
    # join): persist it once or every branch re-synthesizes the whole
    # corpus (session-LRU release, the operator-persist stance —
    # functions/cache.py)
    bag = sniff_formats(reduce(DataFrame.unionByName, parts + [garbage])).persist()

    imgs = extract_features(
        bag.filter(F.col("format").isin("png", "jpeg", "gif", "webp")),
        on_error="quarantine",
    ).select(
        "asset_id",
        ((F.col("width") > 0) & (F.col("width") * F.col("height") >= 80)).alias("keep"),
    )
    wav = extract_audio_features(bag.filter(F.col("format") == "wav")).select(
        "asset_id", (F.col("duration_ms") >= 8).alias("keep")
    )
    mp3 = extract_mp3_metadata(
        bag.filter(F.col("format") == "mp3"), on_error="quarantine"
    ).select(
        "asset_id",
        ((F.col("n_frames") > 0) & (F.col("duration_ms") >= 1200)).alias("keep"),
    )
    y4m = scene_cuts(bag.filter(F.col("format") == "y4m")).select(
        "asset_id", (F.col("n_frames") >= 4).alias("keep")
    )
    unk = bag.filter(F.col("format") == "unknown").select(
        "asset_id", F.lit(False).alias("keep")
    )
    decisions = reduce(DataFrame.unionByName, [imgs, wav, mp3, y4m, unk])
    return (
        bag.select("asset_id", "format")
        .join(decisions, "asset_id")
        .groupBy("format")
        .agg(
            F.count("*").cast("long").alias("n_assets"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
        )
    )


@query(
    "multimodal_exif_gps_audit",
    """
    WITH m AS (
      SELECT doc_id AS id,
             (1 + doc_id % 3) * (1 + n_chars % 2) AS blocks
      FROM documents WHERE doc_id % 14 = 3
    ),
    ps AS (
      SELECT id, cast(sum(64 * ((id * 37 + b * 29) % 256)) AS bigint) AS pix
      FROM m, unnest(range(0, blocks)) AS t(b) GROUP BY id
    )
    SELECT cast(m.id AS bigint) AS asset_id,
           cast(1 + m.id % 8 AS int) AS orientation,
           CASE WHEN m.id % 3 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
           cast(m.id % 5 <> 0 AS int) AS has_gps,
           CASE WHEN m.id % 5 = 0 THEN ''
                WHEN m.id % 2 = 0 THEN 'N' ELSE 'S' END AS gps_ref,
           cast(CASE WHEN m.id % 5 = 0 THEN -1 ELSE m.id % 90 END AS int) AS lat_deg,
           cast(CASE WHEN m.id % 5 = 0 THEN -1 ELSE n.n_chars % 60 END AS int) AS lat_min,
           cast(CASE WHEN m.id % 5 = 0 THEN -1 ELSE (m.id * 7) % 6000 END AS int) AS lat_sec_centi,
           cast(0 AS int) AS stripped_has_exif,
           ps.pix AS stripped_pixel_sum
    FROM m JOIN ps ON m.id = ps.id
    JOIN (SELECT doc_id, n_chars FROM documents) n ON n.doc_id = m.id
    """,
)
def multimodal_exif_gps_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Image-side PII: audit EXIF location data and PROVE the strip —
    each asset is a real baseline JPEG carrying a real EXIF APP1
    (both TIFF byte orders, GPS present or absent by id), parsed by
    the tag walk, stripped, re-audited (must carry no EXIF), and
    re-decoded (the oracle's closed-form pixel_sum pins that stripping
    metadata never touched a pixel). The image analog of
    text_pii_redaction: location leaves the corpus, content provably
    does not change."""
    from tera_spark.operators.multimodal import (
        extract_exif_audit,
        synth_jpeg_exif_media,
    )

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 14 == 3)
    return extract_exif_audit(synth_jpeg_exif_media(docs))
