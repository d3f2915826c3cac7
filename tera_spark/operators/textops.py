"""Text analysis operators: language-ID, quality scoring, token
statistics, document fingerprinting — all built-in expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tera_spark.functions.text import fingerprint, tokens
from tera_spark.sources.tables import ensure_parallelism

# tiny per-language marker lexicons for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "das", "und", "ist"],
}

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "for", "on", "with"]


def _marker_hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(words)))


def language_id(text: Column) -> Column:
    """Stopword-marker vote: the language with the most marker hits
    wins, ties broken by code order (first-listed wins); no hits →
    'und'. Expressed as greatest+CASE so the DuckDB oracle can mirror
    it token for token."""
    toks = tokens(text)
    hits = {code: _marker_hits(toks, ws) for code, ws in sorted(LANG_MARKERS.items())}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for code in reversed(sorted(LANG_MARKERS)):
        expr = F.when((best > 0) & (hits[code] == best), F.lit(code)).otherwise(expr)
    return expr


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / alpha ratios + composite score."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    n_punct = F.length(F.regexp_replace(t, "[^.!?,;:]", ""))
    n_stop = F.size(F.filter(toks, lambda x: F.lower(x).isin(STOPWORDS)))

    def trunc6(x):
        # floor-truncation instead of round: bit-stable across engines
        # (round() tie-breaking on doubles differs between Spark and
        # DuckDB; floor of identical doubles cannot)
        return F.floor(x * 1_000_000).cast("double") / 1_000_000

    alpha_ratio = trunc6(n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)))
    stop_ratio = trunc6(n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)))
    punct_ratio = trunc6(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)))
    mean_tok_len = trunc6(
        (n_chars - n_tokens + 1).cast("double") / F.greatest(n_tokens, F.lit(1))
    )
    score = trunc6(
        F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + stop_ratio * 0.3
        + alpha_ratio * 0.3
    )
    return ensure_parallelism(docs).select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        mean_tok_len.alias("mean_tok_len"),
        score.alias("quality_score"),
    )


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition-based quality signals (the Gopher-rules family):
    fraction of tokens taken by the single most common token, and
    fraction of bigrams that are repeats of an earlier bigram. High
    values flag boilerplate / degenerate generations a curation
    pipeline should drop.

    Everything is per-row array arithmetic (map-only, zero shuffles at
    any corpus size). Intermediates are staged behind real projections
    because the token array feeds four consumers (see
    functions/text.py staging notes).
    """
    t = F.col(text_col)

    def trunc6(x):
        return F.floor(x * 1_000_000).cast("double") / 1_000_000

    d = (
        ensure_parallelism(docs)
        .withColumn("_toks", tokens(t))
        .withColumn("_n", F.size(F.col("_toks")))
        .withColumn(
            "_counts",
            F.transform(
                F.array_distinct(F.col("_toks")),
                lambda w: F.size(F.filter(F.col("_toks"), lambda x: x == w)),
            ),
        )
        .withColumn(
            "_bg",
            F.when(
                F.col("_n") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.col("_n") - 1),
                    lambda i: F.concat_ws(
                        " ", F.get(F.col("_toks"), i - 1), F.get(F.col("_toks"), i)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    n_bg = F.size(F.col("_bg"))
    return d.select(
        "doc_id",
        F.col("_n").cast("long").alias("n_tokens"),
        trunc6(
            F.array_max(F.col("_counts")).cast("double") / F.greatest(F.col("_n"), F.lit(1))
        ).alias("top_token_frac"),
        trunc6(
            (n_bg - F.size(F.array_distinct(F.col("_bg")))).cast("double")
            / F.greatest(n_bg, F.lit(1))
        ).alias("dup_bigram_frac"),
    )


# GPT-2-style pre-tokenizer regex (contractions, space-prefixed
# letter/digit/punct runs, whitespace). Lookaround-free subset so Java
# regex (Spark) and RE2 (oracle) segment identically.
BPE_SPLIT = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting the way a training pipeline budgets corpora:
    whitespace tokens AND BPE-ish pre-tokenizer segments (the unit BPE
    merges start from — a far better proxy for real tokenizer cost than
    whitespace). chars_per_token is the compression-rate health signal.
    Map-only regexp work; codegen'd, zero shuffles."""
    t = F.col(text_col)

    def trunc6(x):
        return F.floor(x * 1_000_000).cast("double") / 1_000_000

    seg = F.size(F.regexp_extract_all(t, F.lit(BPE_SPLIT), 0))
    return ensure_parallelism(docs).select(
        "doc_id",
        F.size(tokens(t)).cast("long").alias("n_ws_tokens"),
        seg.cast("long").alias("n_bpe_tokens"),
        trunc6(F.length(t).cast("double") / F.greatest(seg, F.lit(1))).alias(
            "chars_per_token"
        ),
    )


# PII patterns kept engine-portable: character classes only, no
# lookarounds (Spark = Java regex, oracle = RE2).
PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PII_NUMBER = "[0-9]+"


def redact_pii(
    df: DataFrame, col: str, id_cols: list[str] | None = None
) -> DataFrame:
    """Mask emails then digit runs in ``col``; emit the redacted text
    plus per-category match counts (the audit trail a curation run
    keeps). Pure regexp expressions — map-only at any scale."""
    ids = id_cols or ["doc_id"]
    c = F.col(col)
    masked = F.regexp_replace(
        F.regexp_replace(c, PII_EMAIL, "<EMAIL>"), PII_NUMBER, "<NUM>"
    )
    return ensure_parallelism(df).select(
        *ids,
        masked.alias("redacted"),
        F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL), 0)).cast("long").alias("n_email"),
        F.size(
            F.regexp_extract_all(F.regexp_replace(c, PII_EMAIL, "<EMAIL>"), F.lit(PII_NUMBER), 0)
        )
        .cast("long")
        .alias("n_number"),
    )


def doc_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return ensure_parallelism(docs).select(
        "doc_id",
        fingerprint(F.col(text_col)).alias("fp"),
        F.md5(text_col).alias("exact_hash"),
    )


def tfidf_bm25_top_terms(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Corpus-statistics term scoring: TF-IDF and BM25 per (doc, term),
    keeping the ``top_k`` highest-signal terms per document.

    Plan shape (all built-in exprs, zero UDFs): tokenize+explode is
    map-only; (doc,term) tf and per-term df are two partial+final
    hash aggregations; corpus scalars (N, total token count) ride in
    via a broadcast of two 1-row aggregates, never a driver collect;
    the per-doc top-k is one window. At 100 TB the only wide ops are
    the two aggregations and the term-keyed df join — the df side is
    vocabulary-sized (sublinear in corpus), so it broadcasts or
    hash-joins cheaply; skewed terms are aggregate keys, not join-row
    multipliers.

    Ranking is on integer keys (tf desc, df asc, term asc) — monotone
    with tf*idf at fixed tf but exactly reproducible across engines,
    so an oracle can replay it without float-ordering hazards.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != F.lit(""))
        ).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scalars = F.broadcast(
        docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
            toks.agg(F.count(F.lit(1)).alias("n_toks"))
        )
    )
    scored = (
        tf.join(dl, id_col)
        .join(dfreq, "term")
        .crossJoin(scalars)
        .withColumn("avgdl", F.col("n_toks") / F.col("n_docs"))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
        .withColumn(
            "bm25",
            F.round(
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
                6,
            ),
        )
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy(id_col).orderBy(F.desc("tf"), F.asc("df"), F.asc("term"))
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= top_k)
        .select(id_col, "term", "tf", "df", "tfidf", "bm25")
    )


def bpe_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adjacent character-pair frequencies over the word-frequency
    table — round 0 of BPE merge-rule training. The corpus collapses
    to distinct words FIRST (one shuffle, vocab-sized output), so the
    pair explosion and every training round after it run on the
    vocabulary, not the corpus — the property that makes tokenizer
    training on a 100 TB corpus a small job after one corpus pass.
    Returns (a, b, n) summed over word frequencies."""
    words = ensure_parallelism(docs).select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pair = wf.select(
        "freq",
        F.explode(
            F.when(
                F.length("w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.struct(
                        F.col("w").substr(i, F.lit(1)).alias("a"),
                        F.col("w").substr(i + 1, F.lit(1)).alias("b"),
                    ),
                ),
            ).otherwise(F.expr("cast(array() as array<struct<a:string,b:string>>)"))
        ).alias("p"),
    )
    return (
        pair.select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq")
        .groupBy("a", "b")
        .agg(F.sum("freq").cast("long").alias("n"))
    )


def bpe_train_merges(
    docs: DataFrame, *, n_merges: int = 10, text_col: str = "text"
) -> list[tuple[str, str]]:
    """Learn BPE merge rules: greedy highest-count adjacent symbol
    pair, applied leftmost-first (the standard algorithm). All rounds
    operate on the vocabulary-sized word-frequency relation; each
    round is one pair-count aggregation (top pair via takeOrdered-1)
    plus a map-only merge fold over the symbol arrays, checkpointed to
    keep lineage flat. Deterministic: ties break on (count desc, a, b).
    """
    spark = docs.sparkSession
    words = ensure_parallelism(docs).select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    wf = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.split(F.col("w"), "").alias("syms"), "freq")
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = wf.select(
            "freq",
            F.explode(
                F.when(
                    F.size("syms") >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size("syms") - 2),
                        lambda i: F.struct(
                            F.get("syms", i).alias("a"), F.get("syms", i + 1).alias("b")
                        ),
                    ),
                ).otherwise(F.expr("cast(array() as array<struct<a:string,b:string>>)"))
            ).alias("p"),
        )
        counts = (
            pairs.groupBy("p.a", "p.b").agg(F.sum("freq").alias("n"))
        )
        top = counts.orderBy(F.desc("n"), "a", "b").take(1)
        if not top or top[0]["n"] is None:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        wf = wf.select(_apply_merge(F.col("syms"), a, b).alias("syms"), "freq").localCheckpoint()
    return merges


def _apply_merge(syms, a: str, b: str):
    """Apply ONE BPE merge rule (a, b) -> a+b to a symbol-array column,
    leftmost-first and non-overlapping (the standard apply order)."""
    ab = a + b
    acc0 = F.struct(
        F.expr("cast(array() as array<string>)").alias("out"),
        F.lit(False).alias("skip"),
    )

    def step(acc, x):
        prev = F.element_at(acc["out"], -1)
        can = (
            ~acc["skip"]
            & (F.size(acc["out"]) > 0)
            & (prev == F.lit(a))
            & (x == F.lit(b))
        )
        out2 = F.when(
            can,
            F.concat(
                F.slice(acc["out"], 1, F.size(acc["out"]) - 1),
                F.array(F.lit(ab)),
            ),
        ).otherwise(F.concat(acc["out"], F.array(x)))
        # a merged symbol cannot immediately chain as the `a` of the
        # same rule in this round unless it IS `a`
        return F.struct(out2.alias("out"), (can & (F.lit(ab) != F.lit(a))).alias("skip"))

    return F.aggregate(syms, acc0, step)["out"]


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
) -> DataFrame:
    """Encode documents with a learned merge list: each word starts as
    characters and every rule applies in rank order (the exact
    tokenizer-inference algorithm for a BPE vocab). The merge list
    rides in the plan as chained fold expressions — map-only, no join,
    no shuffle; token counts come out per doc.

    Returns (doc_id, n_tokens, tokens) where tokens is the flattened
    per-word token stream in document order."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")

    def encode_word(w):
        syms = F.split(w, "")
        for a, b in merges:
            syms = _apply_merge(syms, a, b)
        return syms

    toks = F.flatten(F.transform(words, encode_word))
    return ensure_parallelism(docs).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        toks.alias("tokens"),
    )


def compression_ratio(
    docs: DataFrame,
    text_col: str = "text",
    *,
    include_comp: bool = False,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document zlib compression ratio — the classic redundancy
    quality signal (boilerplate and degenerate repetition compress far
    better than natural text; curation pipelines drop the extremes).
    Genuinely inexpressible in SQL, so this is one of the few
    deliberate Python paths: an Arrow-batched pandas UDF (never a
    row-at-a-time UDF), map-only at any corpus size.

    Returns (doc_id, n_bytes, ratio) with ratio = compressed/original
    truncated to 6 places (floor-truncation: bit-stable across runs);
    ``include_comp=True`` adds the raw compressed byte count
    (comp_bytes), the value the calibration oracle pins; ``keep``
    names extra input columns to ride through the projection (no
    join-back shuffle to reattach them). The kernel emits the byte
    count; the ratio is derived in Spark expressions with the
    identical float-divide-then-truncate, so both forms stay
    bit-stable."""
    from pyspark.sql.functions import pandas_udf

    def _batch(texts):
        import zlib

        def one(t):
            if not t:
                return 0
            return len(zlib.compress(t.encode("utf-8"), 6))

        return texts.map(one)

    # annotation-free form: `from __future__ import annotations` turns
    # hints into strings the decorator cannot resolve here
    _comp = pandas_udf(_batch, "long")

    t = F.col(text_col)
    raw = F.octet_length(t).cast("long")
    out = ensure_parallelism(docs).select(
        "doc_id",
        *keep,
        raw.alias("n_bytes"),
        _comp(t).alias("comp_bytes"),
    ).withColumn("ratio", F.when(
        # NULL text: octet_length(NULL) is NULL, so an == 0 test alone
        # skips the guard and the ratio silently goes NULL; the kernel
        # maps falsy text to comp_bytes=0, so pin ratio to the same 1.0
        # the empty-string branch gets
        F.col("n_bytes").isNull() | (F.col("n_bytes") == 0), F.lit(1.0)
    ).otherwise(
        F.floor(F.col("comp_bytes") / F.col("n_bytes") * 1_000_000).cast("double")
        / 1_000_000
    ))
    if include_comp:
        return out.select("doc_id", *keep, "n_bytes", "comp_bytes", "ratio")
    return out.select("doc_id", *keep, "n_bytes", "ratio")


def language_id_confidence(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID with a confidence margin: marker-vote winner plus
    (top_hits - second_hits). Margin 0 = ambiguous (tie or no
    evidence); curation pipelines route low-margin docs to a heavier
    classifier instead of trusting the heuristic. Map-only."""
    t = F.col(text_col)
    toks = tokens(t)
    hits = [
        _marker_hits(toks, ws).alias(code) for code, ws in sorted(LANG_MARKERS.items())
    ]
    d = ensure_parallelism(docs).select("doc_id", t.alias("_t"), *hits)
    arr = F.array(*[F.col(c) for c in sorted(LANG_MARKERS)])
    ranked = F.reverse(F.array_sort(arr))
    return d.select(
        "doc_id",
        language_id(F.col("_t")).alias("lang_guess"),
        (F.get(ranked, 0) - F.get(ranked, 1)).cast("long").alias("margin"),
    )


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token windows — the
    context-window chunking stage every pretraining pipeline runs
    before packing (see pipeline_token_packing for the next stage).
    Window w starts at token w*stride and takes chunk_tokens tokens;
    stride < chunk_tokens yields the standard overlap so no boundary
    context is lost. The final window may be short.

    Map-only: sequence+transform+explode inside one projection — no
    shuffle, no UDF; at 100 TB this is pure scan throughput and the
    output stays partition-local for the downstream packer."""
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = tokens(F.col(text_col))
    d = ensure_parallelism(docs).withColumn("_toks", toks)
    n = F.size(F.col("_toks"))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    d = d.withColumn("_start", F.explode(starts)).filter(F.col("_start") < n)
    return d.select(
        "doc_id",
        (F.col("_start") / stride).cast("long").alias("chunk_idx"),
        F.least(F.lit(chunk_tokens), n - F.col("_start")).cast("long").alias("chunk_len"),
        F.array_join(F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens), " ").alias(
            "chunk_text"
        ),
    )


def dsir_importance(
    candidates: DataFrame,
    target: DataFrame | None = None,
    *,
    buckets: int = 256,
    text_col: str = "text",
    target_pred: Column | None = None,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al.
    2023): score each candidate document by how target-like its
    hashed-unigram features are — log p_target(doc) - log p_raw(doc)
    under two bucket-hashed unigram LMs with add-one smoothing. High
    log-weight docs resemble the target corpus; resampling by these
    weights shifts the raw mix toward the target distribution.

    Returns doc_id, n_tokens, logw_micro (integer micro-nats;
    per-token scores are floor-quantized BEFORE summing so the
    aggregate is associative and engine-stable, same stance as
    text_unigram_surprisal).

    Scale shape: both LMs are bucket-count tables of fixed size B —
    trivially broadcast. Above the scale gate (``plans.scale_gate``)
    the candidate corpus is tokenized ONCE: the token stream folds to
    per-(doc, bucket) counts first (map-side partial aggregation
    collapses it before the only candidate-side shuffle), and BOTH
    consumers — the
    raw LM's bucket totals and the final per-doc scoring — read that
    shared aggregation, so Spark plans a ReusedExchange instead of a
    second tokenize pass. Below the floor a small corpus keeps the
    two-pass shape: tokenize-twice is cheap there, and the scoring
    branch partial-aggregates straight down to one row per doc, so its
    exchange never carries the (doc, bucket)-wide fold. One more pass
    tokenizes the target slice; the 100 TB version materializes the
    count tables between passes.

    ``target_pred`` is a caller PROMISE that the target corpus is
    exactly ``candidates.filter(target_pred)`` (the common DSIR setup:
    the target is a labelled slice of the pool being scored — same
    stance as ``stupid_backoff_nll``'s ``train_pred``). The target LM
    then counts conditionally inside the candidate token stream, so
    the separate target tokenize+scan pass disappears: one pass builds
    BOTH LMs (and above the fold floor, the one shared fold feeds the
    LMs and the scoring). Exactly equal by pushdown algebra —
    explode∘filter = filter∘explode, and a NULL predicate row counts
    as non-target just as the filter would drop it.
    """
    from tera_spark.functions.text import h60
    from tera_spark.plans import scale_gate

    if (target is None) == (target_pred is None):
        raise ValueError("pass exactly one of target / target_pred")

    def bucketed(df: DataFrame, flag: Column | None = None) -> DataFrame:
        head = ["doc_id"] if flag is None else ["doc_id", flag.alias("_tgt")]
        tail = [] if flag is None else [F.col("_tgt")]
        tok = df.select(*head, F.explode(tokens(F.col(text_col))).alias("_tok"))
        return tok.select(
            "doc_id", F.pmod(h60(F.col("_tok")), F.lit(buckets)).alias("b"), *tail
        )

    from pyspark.sql import Window as W

    spark = candidates.sparkSession
    cand = ensure_parallelism(candidates)
    shared_fold = scale_gate(cand)
    tgt_flag = (
        None if target_pred is None else F.when(target_pred, F.lit(1)).otherwise(F.lit(0))
    )
    cand_toks = bucketed(cand, tgt_flag)
    if shared_fold:
        aggs = [F.count("*").alias("_n")] + (
            [] if tgt_flag is None else [F.sum("_tgt").alias("_nt")]
        )
        cand_doc_b = cand_toks.groupBy("doc_id", "b").agg(*aggs)
    spine = spark.range(buckets).select(F.col("id").alias("b"))
    if tgt_flag is not None:
        # ONE aggregation (one exchange of ≤B partial rows per task)
        # counts BOTH distributions from the single candidate token
        # stream — the separate target tokenize pass is gone. The
        # spine join stays: hanging the totals window off the tiny
        # Range side (the counts arrive by broadcast) measured 1.6×
        # faster than windowing the aggregation output directly
        # (0.93 s vs 1.56 s same-session min at sf0.1 — the
        # SinglePartition exchange then sits on the Range, not on the
        # full aggregation lineage).
        if shared_fold:
            both = cand_doc_b.groupBy("b").agg(
                F.sum("_nt").alias("t_cnt"), F.sum("_n").alias("r_cnt")
            )
        else:
            both = cand_toks.groupBy("b").agg(
                F.sum("_tgt").alias("t_cnt"), F.count("*").alias("r_cnt")
            )
        lm = spine.join(both, "b", "left").select(
            "b",
            F.coalesce("t_cnt", F.lit(0)).alias("t_cnt"),
            F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
        )
    else:
        if shared_fold:
            raw_cnt = cand_doc_b.groupBy("b").agg(F.sum("_n").alias("r_cnt"))
        else:
            raw_cnt = cand_toks.groupBy("b").agg(F.count("*").alias("r_cnt"))
        tgt_cnt = bucketed(target).groupBy("b").agg(F.count("*").alias("t_cnt"))
        lm = (
            spine.join(tgt_cnt, "b", "left")
            .join(raw_cnt, "b", "left")
            .select(
                "b",
                F.coalesce("t_cnt", F.lit(0)).alias("t_cnt"),
                F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
            )
        )
    # LM totals via ONE empty-frame window over the 256-row lm instead
    # of scalar-aggregation branches: the crossJoin(broadcast(total))
    # wiring re-derived the aggregation subtrees as separate stage
    # waves (no exchange reuse materialized for the broadcast inputs),
    # measured 0.88 s vs 0.72 s min at sf0.1 for the whole query; the
    # window is a single-partition pass over B rows — negligible at any
    # scale since B is fixed. Value-identical: the window sums the same
    # coalesced integer counts over all B spine rows (an empty corpus
    # sums literal zeros, exactly like the old spine-side totals).
    wt = W.partitionBy()
    score = F.floor(
        (
            F.log((F.col("t_cnt") + 1) / (F.col("t_tot") + buckets))
            - F.log((F.col("r_cnt") + 1) / (F.col("r_tot") + buckets))
        )
        * 1_000_000
    ).cast("long")
    scored = lm.select(
        "b",
        F.sum("t_cnt").over(wt).cast("double").alias("t_tot"),
        F.sum("r_cnt").over(wt).cast("double").alias("r_tot"),
        "t_cnt",
        "r_cnt",
    ).select("b", score.alias("tok_score"))
    # per-token scores are integers, so summing count·score per bucket
    # is exactly the per-token sum — associative, engine-stable
    if shared_fold:
        return (
            cand_doc_b.join(F.broadcast(scored), "b")
            .groupBy("doc_id")
            .agg(
                F.sum("_n").cast("long").alias("n_tokens"),
                F.sum(F.col("_n") * F.col("tok_score")).cast("long").alias("logw_micro"),
            )
        )
    return (
        cand_toks.join(F.broadcast(scored), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("tok_score").cast("long").alias("logw_micro"),
        )
    )


def stupid_backoff_nll(
    docs: DataFrame,
    text_col: str = "text",
    *,
    train_pred: Column | None = None,
    backoff: float = 0.4,
    scope=None,
) -> DataFrame:
    """CCNet-style perplexity filtering (Wenzek et al. 2020): train an
    n-gram LM on a held-in split, score EVERY document's trigram
    stream with stupid backoff (Brants et al. 2007), and return each
    doc's token count and average negative log-likelihood. Unlike the
    in-corpus surprisal filters, the LM here is trained on a DIFFERENT
    split (default: even doc_ids), so held-out docs genuinely exercise
    the backoff chain — exactly the reference-LM-scores-the-crawl
    shape CCNet uses for quality bucketing.

      S(w3|w1,w2) = c3/cctx                      if c3 > 0
                  = 0.4 * cb/c1ctx               else if cb > 0
                  = 0.16 * (c1 + 1)/(N + V)      else (add-one floor,
                                                  handles OOV tokens)

    Per-trigram surprisal is floor-quantized to integer micro-nats
    before the per-doc sum (associative — engine- and order-stable);
    avg_nll_micro = floor(sum/n) keeps the result integral. Docs with
    fewer than 3 tokens have no trigram stream and drop out (both
    engines implement the same rule).

    Scale shape: the count relations are Zipf-small (vocabulary-
    bounded) -> broadcast onto the trigram stream only while they fit
    (score_trigrams counts each relation and gates the hint on
    broadcast_row_cap; over the cap the joins are shuffle joins by
    construction — an unconditional hint would OOM at 100 TB trigram
    diversity); the corpus itself is
    scanned once and re-shuffled only by doc_id for the final fold.
    The count relations are materialized (they feed both the scoring
    joins and their derived context counts — unpersisted, each would
    re-scan the train corpus twice); pass ``scope`` for deterministic
    release (functions/cache.py contract).
    """
    from tera_spark.functions.cache import materialize
    from tera_spark.operators.lm import ngram_counts, score_trigrams, trigram_stream

    if train_pred is None:
        train_pred = F.col("doc_id") % 2 == 0
    c3, cb, c1 = ngram_counts(docs.filter(train_pred), text_col)
    c3, cb, c1 = (materialize(x, scope) for x in (c3, cb, c1))
    return score_trigrams(
        trigram_stream(docs, text_col), c3, cb, c1, backoff=backoff
    )


# --- Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A) ------

GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The published Gopher document-quality filters, map-only:

    1. word count in [50, 100_000];
    2. mean word length in [3, 10] characters;
    3. symbol-to-word ratio <= 0.1 (symbols: '#' and '...');
    4. >= 80% of words contain at least one alphabetic character;
    5. at least TWO of the required English stop words present
       (the/be/to/of/and/that/have/with — distinct types, not tokens).

    The two line-shape rules (bullet-started / ellipsis-ended line
    fractions) need line structure the synthetic corpus lacks and are
    line-local anyway — they compose as one more boolean under this
    exact pattern when the source carries newlines.

    Ratios are floor-truncated to 6 decimals (the engine-stable
    convention of quality_features); per-rule booleans ship as ints so
    audits can count failures per rule, `keep` is their AND. Pure
    expression pipeline — no shuffle, no UDF."""
    t = F.col(text_col)
    toks = tokens(t)
    wc = F.size(toks)

    def trunc6(x):
        return F.floor(x * 1_000_000).cast("double") / 1_000_000

    sum_wl = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),  # long accumulator: a multi-GB doc's
        lambda a, x: a + x,     # char count overflows int32 under ANSI
    )
    mean_wl = trunc6(sum_wl.cast("double") / F.greatest(wc, F.lit(1)))
    n_hash = F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    n_ellipsis = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    symbol_ratio = trunc6(
        (n_hash + n_ellipsis).cast("double") / F.greatest(wc, F.lit(1))
    )
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]")))
    alpha_word_ratio = trunc6(alpha_words.cast("double") / F.greatest(wc, F.lit(1)))
    n_stops = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPS]),
        )
    )
    r1 = (wc >= 50) & (wc <= 100_000)
    r2 = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    r3 = symbol_ratio <= 0.1
    r4 = alpha_word_ratio >= 0.8
    r5 = n_stops >= 2
    return ensure_parallelism(docs).select(
        "doc_id",
        wc.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_word_ratio.alias("alpha_word_ratio"),
        n_stops.cast("int").alias("n_required_stops"),
        r1.cast("int").alias("pass_word_count"),
        r2.cast("int").alias("pass_mean_word_len"),
        r3.cast("int").alias("pass_symbol_ratio"),
        r4.cast("int").alias("pass_alpha_words"),
        r5.cast("int").alias("pass_stop_words"),
        (r1 & r2 & r3 & r4 & r5).cast("int").alias("keep"),
    )
