"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-aware and UDF-free:

* exact     — hash-groupBy on md5(text): one shuffle on the hash.
* MinHash+LSH — shingle → 16 minhashes → 4 bands → bucket join.
  At 100 TB the bucket join is the only shuffle and its key space is
  the band hash, so co-candidates co-locate; everything upstream is a
  map-only expression pipeline.
* SimHash   — 60-bit count-weighted fingerprint; near-dups share
  fingerprints with small Hamming distance (band the fingerprint for
  joins).
* n-gram Jaccard — exact verification over candidate pairs (array
  set ops on distinct shingles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tera_spark.functions.text import (
    band_keys,
    shingles,
    sx_shingles,
    with_minhash_signature,
    with_simhash,
)
from tera_spark.sources.tables import ensure_parallelism


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents (keeper = min id)."""
    return (
        docs.groupBy(F.md5(text_col).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _first_collision_candidates(
    keyed: DataFrame, max_bucket_size: int | None = None, scope=None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from bucket-key collisions
    with NO pair-level shuffle.

    ``keyed`` is (id, keys: array) — per-document bucket keys in a fixed
    per-document order (LSH band keys, or a sorted bottom-k sketch),
    distinct within a document. A pair colliding in several buckets is
    emitted exactly once, from its FIRST shared key: each exploded row
    carries the document's earlier keys as ``prefix``, and the join
    filters out any collision where the two prefixes overlap (an
    overlap IS an earlier shared bucket, because keys are exact hashes).
    That check is map-side on the join output — it replaces the old
    `.distinct()` over the full candidate-pair set, which was a second
    wide shuffle proportional to pair volume (the largest intermediate
    in the whole dedup pipeline at 100 TB).

    With ``max_bucket_size`` the degenerate-bucket cap runs first (see
    `_cap_buckets` rationale) and the per-document key sequence is
    rebuilt from the SURVIVING buckets, so a pair whose first shared
    bucket was capped away is still paired by its first surviving one —
    identical output to cap-then-distinct. The rebuild shuffles the
    O(N·bands) signature rows by id, still far below pair volume."""
    ex = keyed.select("id", "keys", F.posexplode("keys").alias("pos", "bucket"))
    if max_bucket_size is not None:
        ex = _cap_buckets(ex.drop("keys"), max_bucket_size)
        per = ex.groupBy("id").agg(
            F.array_sort(F.collect_list(F.struct("pos", "bucket"))).alias("pb")
        )
        ex = per.select("id", F.col("pb.bucket").alias("keys")).select(
            "id", "keys", F.posexplode("keys").alias("pos", "bucket")
        )
    # prefix keys travel through the bucket shuffle on every exploded
    # row — compact them to xxhash64 longs (8 B vs a 32-char md5; the
    # 2^-64 collision odds of a spurious earlier-overlap are far below
    # the minhash signature's own collision floor)
    prefix = F.transform(
        F.slice("keys", F.lit(1), F.col("pos")), lambda k: F.xxhash64(k)
    )
    from tera_spark.functions.cache import materialize

    sigs = materialize(
        ex.select("id", "bucket", prefix.alias("prefix")), scope
    )  # self-join: one fingerprint materialization, not two
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & ~F.arrays_overlap(F.col("a.prefix"), F.col("b.prefix"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


# Degenerate-bucket cap default (guide §2.5 skew — a single enormous
# key). A template/boilerplate bucket with m members emits ~m²/2
# candidate rows from its first shared band; AQE skew-join can split
# that partition but never shrink it, so one hot bucket holding 0.1%
# of a 100 TB corpus would own the entire candidate join. Measured on
# a 28k-doc synthetic corpus with one 8 000-member template bucket
# (scripts/skew_cap_experiment.py): uncapped 31 997 926 candidate
# pairs / 114 s; capped 1 926 pairs / 21 s with IDENTICAL seeded
# near-dup recall (0.963) — the dropped pairs collide on the template,
# not on near-duplication. 4096 is far above any legitimate near-dup
# cluster in the fixtures (max observed bucket at sf0.001/0.01/0.1 is
# 4) and bounds any one bucket's emission at ~8.4M pairs.
_LSH_CAP_AUTO = 4096


def _resolve_bucket_cap(docs: DataFrame, cap: int | None | str) -> int | None:
    """Resolve the ``max_bucket_size="auto"`` default: cap degenerate
    buckets at `_LSH_CAP_AUTO` once the corpus estimate passes the
    scale gate (`plans.scale_gate`), stay cap-free (and exchange-free)
    below it. The cap path costs two extra exchanges (the count window
    + the per-doc key-sequence rebuild), which a small corpus never
    amortizes — and can never need: below the floor even a fully
    degenerate corpus stays joinable. Results are identical on either
    side whenever every bucket is under the cap (the oracle fixtures
    are, by the measured margin above). Explicit int / None callers
    are passed through untouched."""
    if cap != "auto":
        return cap  # type: ignore[return-value]
    from tera_spark.plans import scale_gate

    return _LSH_CAP_AUTO if scale_gate(docs) else None


def _cap_buckets(sigs: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop degenerate LSH buckets before the self-join. A bucket with
    m members emits m² candidate rows — one boilerplate-heavy bucket
    holding 1% of a 100 TB corpus would dominate the entire join. The
    count window partitions on the same `bucket` key the join shuffles
    on, so the cap reuses that exchange (no extra wide stage); dropped
    buckets are near-worthless for dedup anyway (their members collide
    on boilerplate, and the remaining bands still pair true near-dups).
    """
    if max_bucket_size is None:
        return sigs
    from pyspark.sql import Window as W

    n = F.count(F.lit(1)).over(W.partitionBy("bucket"))
    return sigs.withColumn("_bn", n).filter(F.col("_bn") <= max_bucket_size).drop("_bn")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_bucket_size: int | None | str = "auto",
) -> DataFrame:
    """Candidate near-duplicate pairs: documents sharing ≥1 LSH band
    bucket. Returns (id_a, id_b) with id_a < id_b, distinct — dedup by
    first-collision filter, no pair-level shuffle (see
    `_first_collision_candidates`). ``max_bucket_size="auto"`` caps
    degenerate boilerplate buckets at corpus scale (`_LSH_CAP_AUTO`,
    size-gated by `plans.scale_gate`). The band-signature
    intermediate goes through `functions/cache.materialize`, which
    writes it to Parquet at corpus scale."""
    keyed = with_minhash_signature(ensure_parallelism(docs), text_col).select(
        F.col(id_col).alias("id"), band_keys("sig").alias("keys")
    )
    return _first_collision_candidates(
        keyed, _resolve_bucket_cap(docs, max_bucket_size)
    )


def simhash_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return with_simhash(ensure_parallelism(docs), text_col).select(
        F.col(id_col).alias("id"), "simhash"
    )


def jaccard_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_expr=None,
    threshold: float = 0.3,
    scope=None,
) -> DataFrame:
    """Exact 3-gram Jaccard over bucketed candidate pairs. The bucket
    expression bounds the quadratic blow-up (LSH buckets in production;
    any deterministic partition key works)."""
    from tera_spark.functions.cache import materialize

    base = materialize(
        ensure_parallelism(docs).select(
            F.col(id_col).alias("id"),
            (bucket_expr if bucket_expr is not None else F.col(id_col) % 100).alias("bkt"),
            F.expr(f"array_distinct({sx_shingles(f'`{text_col}`')})").alias("sh"),
        ),
        scope,
    )  # self-join: shingle once, not twice
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, "bkt")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def verified_near_duplicates(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket_size: int | None | str = "auto",
    scope=None,
) -> DataFrame:
    """The production composition: LSH candidates → exact-Jaccard
    verification (candidates only, never all pairs).

    The per-doc fingerprint row (id, shingle set, minhash signature) is
    derived ONCE and shared: the candidate join's two band-exploded
    sides and the verification's two shingle-lookup sides all read the
    same materialization. Without it, Catalyst's column pruning
    specializes each consumer's scan differently, exchange
    canonicalization never matches, and the whole text pipeline
    (16 minhash passes + shingling) runs four times from parquet —
    measured 4x slower at sf0.1.

    The medium of the fingerprint and band-signature tables is size-
    chosen by `functions/cache.materialize`: persist() below the
    `plans.scale_gate` floor (fastest at fixture volumes, but the
    cached table lives in the executor heap; the 5M-doc smoke needed a
    64 GB driver heap this way), Parquet at or above it — the 100 TB
    deployment shape, where every consumer scans storage and the same
    5M smoke passes at a 16 GB heap. Recall is identical by
    construction (same rows, different medium). Reference analog: tera
    never holds a table in client memory — src/sdk/scan_impl.h
    streams."""
    from tera_spark.functions.cache import materialize

    base = materialize(
        with_minhash_signature(ensure_parallelism(docs), text_col)
        .select(
            F.col(id_col).alias("id"),
            F.expr(f"array_distinct({sx_shingles(f'`{text_col}`')})").alias("sh"),
            F.col("sig"),
        )
        .repartition("id"),
        scope,
    )
    cand = _first_collision_candidates(
        base.select("id", band_keys("sig").alias("keys")),
        _resolve_bucket_cap(docs, max_bucket_size),
        scope=scope,
    )
    sh = base.select("id", "sh")
    j = (
        cand.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        j.select(
            "id_a", "id_b", F.round(inter.cast("double") / union, 6).alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 5,
    max_bucket_size: int | None | str = "auto",
    scope=None,
) -> DataFrame:
    """Asymmetric near-duplicate detection by Jaccard CONTAINMENT:
    C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|. Catches a document largely
    *contained* in another (quotation, excerpt syndication, doc-in-doc
    concatenation) that symmetric Jaccard under-scores when lengths
    differ (J ≤ |A|/|B| no matter how complete the inclusion).

    Candidates come from a bottom-k sketch join: each doc keys on its
    k smallest distinct shingle hashes. When A ⊆ B, every one of A's
    minima is also a shingle hash of B, so the pair collides whenever
    any of them ranks among B's bottom-k — the collision property the
    bottom-k containment estimator (Broder's sketches) relies on;
    recall degrades gracefully as |B|/|A| grows and k can rise to
    compensate. Exact set containment then verifies both directions on
    candidates only.

    Scale shape mirrors verified_near_duplicates: map-only sketching,
    ONE bucket-keyed join whose input is exactly k rows per document,
    verification joins bounded by the candidate count. Emits
    (id_a, id_b, containment, direction) with containment =
    max(C(A→B), C(B→A))."""
    from tera_spark.functions.text import P31, h60

    from tera_spark.functions.cache import materialize

    base = materialize(
        ensure_parallelism(docs).select(
            F.col(id_col).alias("id"),
            F.expr(f"array_distinct({sx_shingles(f'`{text_col}`')})").alias("sh"),
        ),
        scope,
    )  # sketch + both verification sides read one derivation
    bottom = F.slice(
        F.array_sort(F.array_distinct(F.transform(F.col("sh"), lambda s: h60(s) % P31))),
        1,
        k,
    )
    cand = _first_collision_candidates(
        base.select("id", bottom.alias("keys")),
        _resolve_bucket_cap(docs, max_bucket_size),
        scope=scope,
    )
    j = (
        cand.join(base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    c_ab = (inter / F.size("sh_a")).alias("c_ab")
    c_ba = (inter / F.size("sh_b")).alias("c_ba")
    scored = j.select("id_a", "id_b", c_ab, c_ba)
    return (
        scored.select(
            "id_a",
            "id_b",
            F.round(F.greatest("c_ab", "c_ba"), 6).alias("containment"),
            F.when(F.col("c_ab") >= F.col("c_ba"), F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a"))
            .alias("direction"),
        )
        .filter(F.col("containment") >= threshold)
    )


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-pair edges -> dedup clusters: ``(id, component)`` where
    ``component`` is the smallest id transitively reachable (the
    canonical "keeper" of the cluster; a doc survives dedup iff
    ``id == component``).

    The reference has no graph layer — this is the step a training
    pipeline needs AFTER pair generation (LSH/cosine), since duplicate
    pairs are transitive in practice (A~B, B~C => keep one of A,B,C).

    Min-label propagation: each round every node takes the minimum
    label among itself and its neighbors; converges in O(graph
    diameter) rounds. Near-dup clusters are shallow (dozens of docs,
    diameter a handful), so rounds stay single-digit at any corpus
    size. Each round is two key-shuffles (edge join + groupBy) — all
    hash-partitioned equi-ops Catalyst/AQE handle; labels are
    ``localCheckpoint``-ed per round so the plan doesn't grow with
    iterations and the convergence action re-reads materialized
    partitions. The sum-of-labels is strictly decreasing, so fixpoint
    detection is one scalar action per round. For adversarial
    (long-chain) graphs swap in large-star/small-star (Kiveris et al.,
    MapReduce & Beyond 2014) — same DataFrame shape, fewer rounds.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if nodes is None:
        nodes = sym.select(F.col("u").alias("id")).distinct()
    lab = nodes.select("id", F.col("id").alias("comp")).localCheckpoint(eager=True)
    prev_sum = lab.agg(F.sum("comp")).first()[0]
    for _ in range(max_iter):
        nbr = (
            sym.join(lab, sym["v"] == lab["id"])
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_min"))
        )
        lab = (
            lab.join(nbr, lab["id"] == nbr["u"], "left")
            .select(
                lab["id"].alias("id"),
                F.least(lab["comp"], F.coalesce("nbr_min", lab["comp"])).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = lab.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return lab.select("id", F.col("comp").alias("component"))


def edit_distance_near_duplicates(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 40,
    max_bucket_size: int | None | str = "auto",
) -> DataFrame:
    """Edit-distance-verified dedup: LSH candidates -> Levenshtein
    filter. Complements Jaccard verification — edit distance catches
    small in-place edits (typo fixes, template fills) that shingle-set
    overlap scores loosely, and both engines define it identically so
    the verification is exactly oracle-able.

    Same scale shape as verified_near_duplicates: the O(n*m) DP runs
    JVM-side on CANDIDATE pairs only (LSH bounds the quadratic work to
    same-bucket collisions), and the text lookup joins hang off the
    bucket join's exchange. At 100 TB the candidate join is the only
    wide stage; the verify filter is map-side."""
    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("txt")
    )
    cand = _first_collision_candidates(
        with_minhash_signature(docs, text_col).select(
            F.col(id_col).alias("id"), band_keys("sig").alias("keys")
        ),
        _resolve_bucket_cap(docs, max_bucket_size),
    )
    return (
        cand.join(base.withColumnRenamed("id", "id_a").withColumnRenamed("txt", "txt_a"), "id_a")
        .join(base.withColumnRenamed("id", "id_b").withColumnRenamed("txt", "txt_b"), "id_b")
        .withColumn("edit_dist", F.levenshtein("txt_a", "txt_b"))
        .filter(F.col("edit_dist") <= max_dist)
        .select("id_a", "id_b", "edit_dist")
    )


def decontaminate_ngrams(
    corpus: DataFrame,
    eval_set: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram with an evaluation set (the standard pre-training
    hygiene pass; production uses n=8..13, scaled here to the fixture's
    short documents). Returns (id, n_hits) for contaminated docs —
    n_hits = count of distinct eval n-grams the document contains.

    Scale shape: the eval set is tiny relative to the corpus, so its
    distinct n-gram set is BROADCAST — the corpus side is a map-only
    explode + broadcast-hash-join + partial/final count keyed by doc
    id. No corpus-sized shuffle other than the per-doc count, and the
    binary/text payload never travels (only n-gram strings + ids)."""
    from tera_spark.functions.text import shingles

    ev = (
        eval_set.select(F.explode(shingles(F.col(text_col), n)).alias("g"))
        .distinct()
    )
    cand = ensure_parallelism(corpus).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("g"),
    )
    return (
        cand.join(F.broadcast(ev), "g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def remove_repeated_spans(
    docs: DataFrame,
    *,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply-stage of exact-substring dedup: strip every token covered
    by an n-gram span that occurs in >= min_docs distinct documents
    (the removal pass that pairs with the detection pass in
    dedup_repeated_ngram_spans; cf. the repeated-substring training-data
    dedup practice). Returns (doc_id, n_tokens, n_removed, clean_text)
    for documents that lost at least one token; clean_text preserves
    the surviving tokens' original order, space-joined.

    Scale shape: three shuffles, none doc-text-sized. (1) gram counts
    keyed by the gram (at 100 TB key by xxhash64(gram) — see
    dedup_repeated_ngram_spans); (2) occurrences join the repeated-gram
    set on that same key; (3) covered positions anti-join the token
    stream on (doc_id, pos) and re-aggregate per doc. Document text
    itself only moves once, inside the final per-doc aggregation; the
    wide intermediates carry (id, int) pairs."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), toks.alias("t")
    )
    starts = F.when(
        F.size("t") >= n, F.sequence(F.lit(1), F.size("t") - (n - 1))
    ).otherwise(F.expr("cast(array() as array<int>)"))
    grams = base.select(
        "id",
        F.explode(
            F.transform(starts, lambda i: F.struct(i.alias("i"), F.concat_ws(" ", F.slice(F.col("t"), i, n)).alias("gram")))
        ).alias("g"),
    ).select("id", F.col("g.i").alias("i"), F.col("g.gram").alias("gram"))
    repeated = (
        grams.groupBy("gram")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    covered = (
        grams.join(repeated, "gram")
        .select("id", F.explode(F.sequence(F.col("i"), F.col("i") + (n - 1))).alias("pos"))
        .distinct()
    )
    pos = base.select(
        "id", F.size("t").alias("n_tokens"), F.posexplode("t").alias("p0", "tok")
    ).select("id", "n_tokens", (F.col("p0") + 1).alias("pos"), "tok")
    kept = pos.join(covered, ["id", "pos"], "left_anti")
    out = (
        kept.groupBy("id")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("tok")))),
                    lambda x: x["tok"],
                ),
            ).alias("clean_text"),
        )
    )
    # docs whose every token was covered vanish from `kept`; reattach
    # them with an empty clean_text so the removal count stays exact
    totals = pos.groupBy("id").agg(F.max("n_tokens").alias("n_tokens"))
    out = (
        totals.join(out.select("id", "n_kept", "clean_text"), "id", "left")
        .select(
            "id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
        .filter(F.col("n_removed") > 0)
    )
    return out


def incremental_dedup(
    corpus: DataFrame,
    incoming: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None | str = "auto",
) -> DataFrame:
    """Admission check for a new ingestion batch against an existing
    corpus: each incoming document is classified 'exact' (byte-identical
    to a corpus doc), 'near' (shares >= 1 MinHash LSH band bucket with
    a corpus doc), or 'unique'. The incremental form of the whole-corpus
    dedup operators — the shape a continuously-ingesting 100 TB pipeline
    actually runs (batch vs. corpus, never corpus vs. corpus).

    Scale shape: the corpus side reduces to two compact keyed sets —
    distinct text hashes and distinct band buckets — before any join;
    both joins key on those sets (hash join on md5 / band key), so the
    corpus text is scanned once, map-only, and never re-shuffled. With
    a small incoming batch the planner broadcasts ITS side instead.
    max_bucket_size caps boilerplate buckets exactly as in
    minhash_lsh_pairs."""
    inc = ensure_parallelism(incoming).select(
        F.col(id_col).alias("id"), F.md5(text_col).alias("h"), F.col(text_col).alias("_t")
    )
    corp_hashes = corpus.select(F.md5(text_col).alias("h")).distinct()
    exact_ids = inc.join(corp_hashes, "h", "left_semi").select("id")

    inc_bands = with_minhash_signature(
        inc.select("id", F.col("_t").alias(text_col)), text_col
    ).select("id", F.explode(band_keys("sig")).alias("bucket"))
    corp_bands = _cap_buckets(
        with_minhash_signature(ensure_parallelism(corpus), text_col).select(
            F.col(id_col).alias("cid"), F.explode(band_keys("sig")).alias("bucket")
        ),
        _resolve_bucket_cap(corpus, max_bucket_size),
    ).select("bucket").distinct()
    near_ids = inc_bands.join(corp_bands, "bucket", "left_semi").select("id").distinct()

    return (
        inc.select("id")
        .join(exact_ids.withColumn("_exact", F.lit(True)), "id", "left")
        .join(near_ids.withColumn("_near", F.lit(True)), "id", "left")
        .select(
            "id",
            F.when(F.coalesce(F.col("_exact"), F.lit(False)), F.lit("exact"))
            .when(F.coalesce(F.col("_near"), F.lit(False)), F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
        )
    )


def lsh_bucket_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    cap: int = 16,
) -> DataFrame:
    """Per-band LSH bucket audit — the observability face of banded
    dedup at volume. For each band: bucket count, the largest bucket,
    the candidate-pair volume the band would generate
    (sum of C(size, 2)), and how many buckets exceed ``cap`` (the
    size at which minhash_lsh_pairs' max_bucket_size would truncate).
    An operator reads this BEFORE running pair generation on a new
    corpus: a hot bucket (boilerplate shingles, empty docs) shows up
    here as max_bucket/pair-volume blowup while the run is still one
    cheap aggregation, not a quadratic join.

    Scale shape: signature + band keys are map-only; one exchange
    keyed (band, bucket) with map-side partial counts; the band
    rollup rides the same key prefix. No pairs are ever materialized.
    """
    keyed = with_minhash_signature(ensure_parallelism(docs), text_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(band_keys("sig")).alias("band", "bucket"),
    )
    sizes = keyed.groupBy("band", "bucket").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy(F.col("band").cast("long").alias("band"))
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.max("sz").cast("long").alias("max_bucket"),
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2)
            .cast("long")
            .alias("candidate_pairs"),
            F.sum(F.when(F.col("sz") > cap, 1).otherwise(0))
            .cast("long")
            .alias("n_over_cap"),
        )
    )
