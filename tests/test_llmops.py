"""Operator-level tests for dedup / similarity / text / multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tera_spark.operators.dedup import (
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_fingerprints,
    verified_near_duplicates,
)
from tera_spark.operators.multimodal import decode_image, extract_features
from tera_spark.operators.similarity import cosine_topk, ivf_assign
from tera_spark.operators.textops import language_id, quality_features

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again today"),
    (1, "the quick brown fox jumps over the lazy dog again and again today"),   # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog again and again tomorrow"),  # near dup
    (3, "completely different words about spark engines and cell stores here"),
    (4, "el la de que los hola mundo bueno dias"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs):
    out = exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0].n_copies == 2 and out[0].keeper == 0 and out[0].members == [0, 1]


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in pairs            # identical docs always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup shares a band
    assert not any(3 in p for p in pairs)      # unrelated doc stays out


def test_verified_near_duplicates(docs):
    out = {(r.id_a, r.id_b): r.jaccard for r in verified_near_duplicates(docs, threshold=0.5).collect()}
    assert out[(0, 1)] == 1.0
    assert any(k in out for k in [(0, 2), (1, 2)])


def test_simhash_similarity(docs):
    fps = {r.id: r.simhash for r in simhash_fingerprints(docs).collect()}
    assert fps[0] == fps[1]  # identical text, identical fingerprint
    ham_near = bin(fps[0] ^ fps[2]).count("1")
    ham_far = bin(fps[0] ^ fps[3]).count("1")
    assert ham_near < ham_far  # near-dup closer in Hamming space


def test_jaccard_pairs_threshold(docs):
    out = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(
        docs, bucket_expr=F.lit(0), threshold=0.5
    ).collect()}
    assert out[(0, 1)] == 1.0
    assert all(j >= 0.5 for j in out.values())


def test_cosine_topk_exact(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # closest to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [0.5, 0.5, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(vecs, vecs.filter("vec_id = 0"), k=2).collect()
    assert [r.v_id for r in sorted(out, key=lambda r: r.rank)] == [1, 3]


def test_ivf_assign(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i % 2), float(1 - i % 2)]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id long, embedding array<float>"
    )
    got = {r.id: r.cluster for r in ivf_assign(vecs, cents, cid_col="centroid_id").collect()}
    for i in range(10):
        assert got[i] == (0 if i % 2 == 1 else 1)


def test_windowed_semantic_pairs_sound_and_complete_on_adjacent(spark):
    """The sorted-neighborhood verify is SOUND (every emitted pair is a
    true within-cluster pair over the threshold — exactly what
    ivf_near_pairs emits) and COMPLETE for pairs within the window:
    windowed ⊆ full always, and with window ≥ cluster size the two are
    identical. Hash-derived corpus, no RNG state."""
    from pyspark.sql import functions as F

    from tera_spark.operators.similarity import ivf_near_pairs, windowed_semantic_pairs

    v = spark.range(120).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(6)),
            lambda i: (
                (F.col("id") % 3).cast("double") * 10.0
                + (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)) / F.lit(500.0))
            ).cast("float"),
        ).alias("embedding"),
    )
    cents = spark.createDataFrame(
        [(0, [0.5] * 6), (1, [10.5] * 6), (2, [20.5] * 6)],
        "centroid_id long, embedding array<double>",
    )
    key = lambda r: (r.cluster, r.id_a, r.id_b)  # noqa: E731
    full = {key(r): r.sim for r in ivf_near_pairs(v, cents, threshold=0.9).collect()}
    win = {key(r): r.sim for r in windowed_semantic_pairs(v, cents, threshold=0.9, window=3).collect()}
    assert set(win) <= set(full), "windowed emitted a pair the full verify does not"
    assert all(full[k] == win[k] for k in win), "sim values must agree pairwise"
    # window >= cluster size (40 members per cluster) -> exact equality
    win_all = {
        key(r): r.sim
        for r in windowed_semantic_pairs(v, cents, threshold=0.9, window=40).collect()
    }
    assert win_all == full


def test_semantic_admission_verdicts_and_tiebreak(spark):
    """near/unique verdicts against a frozen codebook; the best-match
    fold prefers the higher cosine and breaks exact ties toward the
    LOWER corpus id."""
    from tera_spark.operators.similarity import semantic_admission

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id long, embedding array<double>"
    )
    # corpus: ids 10, 11 identical in cluster 0 (tie), id 20 in cluster 1
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [1.0, 0.0]), (20, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    incoming = spark.createDataFrame(
        [(1, [1.0, 0.0]),       # near: ties 10/11 -> keep 10
         (2, [0.0, 1.0]),       # near: matches 20
         (3, [1.0, -1.0])],     # cluster 0, cosine ~0.707 < 0.9 -> unique
        "vec_id long, embedding array<float>",
    )
    rows = {r.id: r for r in semantic_admission(corpus, incoming, cents, threshold=0.9).collect()}
    assert rows[1].verdict == "near" and rows[1].match_id == 10 and rows[1].sim == 1.0
    assert rows[2].verdict == "near" and rows[2].match_id == 20
    assert rows[3].verdict == "unique" and rows[3].match_id is None and rows[3].sim is None


def test_language_id(docs):
    out = {r.doc_id: r.lang for r in docs.select("doc_id", language_id(F.col("text")).alias("lang")).collect()}
    assert out[0] == "en" and out[4] == "es"


def test_quality_features(docs):
    out = {r.doc_id: r for r in quality_features(docs).collect()}
    assert out[0].n_tokens == 13
    assert 0 < out[0].quality_score <= 1


def test_multimodal_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_multimodal_extract_features(spark):
    media = spark.createDataFrame(
        [(1, "image", b"abcdef", {"src": "t"}), (2, "image", b"Z", {"src": "t"})],
        "asset_id long, media_type string, payload binary, meta map<string,string>",
    )
    out = {r.asset_id: r for r in extract_features(media, fake_decode=True).collect()}
    assert out[1].n_bytes == 6 and out[1].head_byte == ord("a")
    assert out[1].width == 16 + ord("a") % 64 and out[1].height == 16 + ord("f") % 64
    assert out[2].n_bytes == 1


@pytest.mark.slow
def test_connected_components_chain_and_clusters(spark):
    from tera_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5 (diameter 4), triangle 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    # explicit node universe: singletons keep their own label
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 99]], "id long")
    sub = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(sub, nodes=nodes).collect()}
    assert got[99] == 99 and all(got[i] == 1 for i in (1, 2, 3, 4, 5))


def test_repetition_signals_crafted(spark):
    from tera_spark.operators.textops import repetition_signals

    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam"),          # one token 4/4; bigrams all "spam spam" → 2/3 dup
            (1, "all words here differ fully"),  # top 1/5; no dup bigrams
            (2, "solo"),                         # single token: no bigrams, frac 0
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert out[0].top_token_frac == 1.0 and round(out[0].dup_bigram_frac, 6) == 0.666666
    assert out[1].top_token_frac == 0.2 and out[1].dup_bigram_frac == 0.0
    assert out[2].n_tokens == 1 and out[2].dup_bigram_frac == 0.0


def test_redact_pii_masks_and_counts(spark):
    from tera_spark.operators.textops import redact_pii

    df = spark.createDataFrame(
        [(0, "mail alice.smith@example.com or call 555 1234, id 77")],
        "doc_id long, text string",
    )
    r = redact_pii(df, "text").collect()[0]
    assert r.redacted == "mail <EMAIL> or call <NUM> <NUM>, id <NUM>"
    assert r.n_email == 1 and r.n_number == 3


def test_bpe_token_stats_segmentation(spark):
    from tera_spark.operators.textops import bpe_token_stats

    df = spark.createDataFrame(
        [(0, "I've got 42 cats, naturally!")], "doc_id long, text string"
    )
    r = bpe_token_stats(df).collect()[0]
    # segments: I |'ve | got | 42 | cats | , | naturally | !
    assert r.n_bpe_tokens == 8 and r.n_ws_tokens == 5


def test_decontaminate_ngrams_flags_overlap(spark):
    from tera_spark.operators.dedup import decontaminate_ngrams

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps high"),   # shares "the quick brown" etc.
            (1, "completely unrelated text body"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox sleeps")], "doc_id long, text string"
    )
    hits = {r.id: r.n_hits for r in decontaminate_ngrams(corpus, ev).collect()}
    assert 0 in hits and hits[0] == 2  # "the quick brown", "quick brown fox"
    assert 1 not in hits


def test_lsh_bucket_cap(docs):
    # default: the near-dup pair (0,1)/(0,2)/(1,2) family is found
    base = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in base
    # cap of 1 removes every shared bucket -> no candidates at all
    capped = minhash_lsh_pairs(docs, max_bucket_size=1).collect()
    assert capped == []
    # generous cap keeps behavior identical
    wide = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, max_bucket_size=64).collect()}
    assert wide == base
    assert verified_near_duplicates(docs, max_bucket_size=1).collect() == []


def test_lsh_pairs_distinct_without_pair_shuffle(spark):
    """Exact duplicates collide in ALL 4 bands; the first-collision
    filter must still emit the pair exactly once — and the plan must
    contain no aggregate over the candidate-pair set (the old
    `.distinct()`), only the bucket join itself."""
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(3)]
    rows += [(10, "completely different words entirely here now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_pairs(docs)
    pairs = [tuple(r) for r in out.collect()]
    assert sorted(pairs) == [(0, 1), (0, 2), (1, 2)]
    assert len(pairs) == len(set(pairs))  # exactly once despite 4-band collision
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the join's output flows straight to the project — no HashAggregate
    # keyed on (id_a, id_b) downstream of the join
    after_join = plan.split("SortMergeJoin")[0].split("BroadcastHashJoin")[0]
    assert "HashAggregate(keys=[id_a" not in after_join


def test_lsh_cap_rescues_later_band_first_collision(spark):
    """A pair whose FIRST shared bucket is capped away must still be
    paired via its first surviving shared bucket (cap-then-dedup
    equivalence: the per-doc key sequence is rebuilt post-cap)."""
    from tera_spark.operators.dedup import _first_collision_candidates

    # hand-built bucket keys: docs 1,2 share K0 (first) and K9 (later);
    # K0 is boilerplate (shared by everyone -> capped at 3)
    rows = [
        (1, ["K0", "K9", "a1", "a2"]),
        (2, ["K0", "K9", "b1", "b2"]),
        (3, ["K0", "c1", "c2", "c3"]),
        (4, ["K0", "d1", "d2", "d3"]),
    ]
    keyed = spark.createDataFrame(rows, "id long, keys array<string>")
    got = sorted(tuple(r) for r in _first_collision_candidates(keyed, 3).collect())
    assert got == [(1, 2)]  # K0 capped (4 members), K9 rescues exactly once
    uncapped = sorted(
        tuple(r) for r in _first_collision_candidates(keyed, None).collect()
    )
    assert uncapped == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]


def test_ivf_topk_recall_vs_exact(spark):
    """The approximate IVF search path must track the exact brute-force
    ranking: decent recall at small nprobe, non-degrading as nprobe
    grows (nprobe = #centroids would be exact)."""
    from tera_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    qs = emb.filter(F.col("vec_id") < 10)
    exact = {(r.q_id, r.v_id) for r in cosine_topk(emb, qs, k=5).collect()}

    def recall(nprobe):
        hits = {(r.q_id, r.v_id) for r in ivf_topk(emb, cents, qs, nprobe=nprobe, k=5).collect()}
        return len(exact & hits) / len(exact)

    r2, r8 = recall(2), recall(8)
    assert r2 >= 0.8, r2          # measured 0.94 on the fixture
    assert r8 >= r2 - 0.05, (r2, r8)  # more probes must not lose recall


def test_hyperplane_lsh_pairs_recall_and_precision(spark):
    """Hyperplane-LSH pairs must (a) only emit pairs at/above the
    cosine threshold (precision is exact — candidates are verified) and
    (b) recover a solid fraction of the true high-similarity pairs
    found by the exhaustive all-pairs scan (recall of the band
    structure)."""
    from tera_spark.operators.similarity import blocked_cosine_pairs, hyperplane_lsh_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {(r.id_a, r.id_b): r.sim for r in hyperplane_lsh_pairs(emb, threshold=0.35).collect()}
    assert all(sim >= 0.35 for sim in got.values())

    # exhaustive truth: one block = all pairs
    truth = {
        (r.id_a, r.id_b): r.sim
        for r in blocked_cosine_pairs(
            emb.withColumn("one", F.lit(1)), block_col="one", threshold=0.35
        ).collect()
    }
    assert set(got) <= set(truth)
    strong = {k for k, sim in truth.items() if sim >= 0.5}
    if strong:
        found = len(strong & set(got)) / len(strong)
        assert found >= 0.6, (found, len(strong))


@pytest.mark.slow
def test_hyperplane_signature_deterministic(spark):
    """Same vectors -> same signatures across independent plans (the
    planes are content-derived constants, not seeded RNG state)."""
    from tera_spark.operators.similarity import hyperplane_signature, hyperplane_signs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    planes = hyperplane_signs()
    a = {r.vec_id: r.sig for r in emb.select("vec_id", hyperplane_signature(F.col("embedding"), planes).alias("sig")).collect()}
    b = {r.vec_id: r.sig for r in emb.select("vec_id", hyperplane_signature(F.col("embedding"), planes).alias("sig")).collect()}
    assert a == b and len(a) == 20


@pytest.mark.slow
def test_kmeans_trains_usable_codebook(spark):
    """Lloyd invariants: exactly k centroids survive, every vector is
    assigned, and the trained codebook beats the 1-round (init-only)
    codebook on within-cluster squared distance."""
    from tera_spark.operators.similarity import ivf_assign, train_kmeans

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()

    def inertia(cents):
        a = ivf_assign(emb, cents, cid_col="centroid_id")
        c = cents.select(
            F.col("centroid_id").alias("cluster"), F.col("embedding").alias("c_vec")
        )
        d2 = F.aggregate(
            F.zip_with(
                F.col("vec"), F.col("c_vec"), lambda x, y: (x.cast("double") - y) ** 2
            ),
            F.lit(0.0),
            lambda acc, p: acc + p,
        )
        return a.join(c, "cluster").select(F.sum(d2).alias("s")).first()["s"], a

    trained = train_kmeans(emb, k=8, iters=4)
    init = train_kmeans(emb, k=8, iters=0)
    assert trained.count() == 8 and init.count() == 8
    loss_t, assigned = inertia(trained)
    loss_0, _ = inertia(init)
    assert assigned.count() == n
    assert loss_t < loss_0, (loss_t, loss_0)


def test_kmeans_query_shape(spark):
    import tera_spark.queries as Q

    Q.load_all()
    rows = Q.QUERIES["ann_kmeans_clusters"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 8
    assert sum(r.n_members for r in rows) == 500


def test_resize_images_fake_codec(spark):
    """Resize plumbing: 64x64 fake output is exactly 16 bytes; short
    payloads cycle, empty payloads yield zero bytes; partition count
    survives the mapInPandas stage."""
    from tera_spark.operators.multimodal import resize_image, resize_images

    assert resize_image(b"ab", 64, 64, fake=True) == (b"ab" * 8)
    assert resize_image(b"", 64, 64, fake=True) == bytes(16)
    assert len(resize_image(b"xyz", 128, 128, fake=True)) == 64

    media = spark.createDataFrame(
        [(1, "image", b"hello-world-payload", {}), (2, "image", b"ab", {})],
        "asset_id long, media_type string, payload binary, meta map<string,string>",
    )
    out = {
        r.asset_id: bytes(r.payload)
        for r in resize_images(media, fake_decode=True).collect()
    }
    assert out[1] == b"hello-world-payl" and len(out[1]) == 16
    assert out[2] == b"ab" * 8


def test_remove_repeated_spans_strips_shared_spans(spark):
    from tera_spark.operators.dedup import remove_repeated_spans

    # docs 0 and 1 share the same 4-token prefix; doc 2 is disjoint
    d = spark.createDataFrame(
        [
            (0, "a b c d unique0 tail0"),
            (1, "a b c d unique1 tail1"),
            (2, "x y z w v u"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in remove_repeated_spans(d, n=4, min_docs=2).collect()}
    assert set(out) == {0, 1}
    assert out[0].n_tokens == 6 and out[0].n_removed == 4
    assert out[0].clean_text == "unique0 tail0"
    assert out[1].clean_text == "unique1 tail1"


def test_remove_repeated_spans_full_coverage_yields_empty_text(spark):
    from tera_spark.operators.dedup import remove_repeated_spans

    d = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c d")], "doc_id long, text string"
    )
    out = {r.id: r for r in remove_repeated_spans(d, n=4, min_docs=2).collect()}
    assert out[0].n_removed == 4 and out[0].clean_text == ""
    assert out[1].n_removed == 4 and out[1].clean_text == ""


def test_incremental_dedup_verdicts(spark):
    from tera_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog again and again today"),
            (101, "totally unrelated corpus record speaking of other things entirely"),
        ],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again today"),  # exact
            (1, "the quick brown fox jumps over the lazy dog again and again tomorrow"),  # near
            (2, "nothing like anything stored before zebra quantum paradox moonlight"),  # unique
        ],
        "doc_id long, text string",
    )
    out = {r.id: r.verdict for r in incremental_dedup(corpus, incoming).collect()}
    assert out[0] == "exact"
    assert out[1] == "near"
    assert out[2] == "unique"


def test_pq_encode_picks_nearest_subcentroids(spark):
    from tera_spark.operators.similarity import pq_encode, pq_topk

    # dim=4, m=2, k=2; codebook[j][c] are well-separated
    cb = [
        [[0.0, 0.0], [10.0, 10.0]],
        [[0.0, 0.0], [-10.0, -10.0]],
    ]
    v = spark.createDataFrame(
        [
            (0, [0.1, -0.1, 0.2, 0.1]),     # codes (0, 0)
            (1, [9.8, 10.1, -9.9, -10.2]),  # codes (1, 1)
            (2, [10.2, 9.9, 0.3, -0.3]),    # codes (1, 0)
        ],
        "vec_id long, embedding array<float>",
    )
    codes = {r.id: list(r.codes) for r in pq_encode(v, cb).collect()}
    assert codes == {0: [0, 0], 1: [1, 1], 2: [1, 0]}

    # ADC distance to a query equals the exact distance to the
    # reconstructed (centroid) vector; vector 0 reconstructs to the
    # origin, so a query at the origin ranks it first with d2 ~ 0
    q = spark.createDataFrame([(100, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>")
    out = pq_topk(v, cb, q, k=3).collect()
    assert [r.v_id for r in out] == [0, 2, 1]
    assert abs(out[0].adc_d2) < 1e-9  # quantized v0 == origin exactly


def test_train_pq_deterministic_and_shaped(spark):
    from tera_spark.operators.similarity import train_pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb1 = train_pq(emb, m=4, k=4, iters=1)
    cb2 = train_pq(emb, m=4, k=4, iters=1)
    assert cb1 == cb2
    assert len(cb1) == 4 and len(cb1[0]) == 4 and len(cb1[0][0]) == 16


def test_bpe_train_merges_classic_corpus(spark):
    from tera_spark.operators.textops import bpe_train_merges

    d = spark.createDataFrame(
        [(0, "low low low lower lowest"), (1, "new newer newest low")],
        "doc_id long, text string",
    )
    m = bpe_train_merges(d, n_merges=3)
    # lo (6) then low (6) then ew (3, from new/newer/newest)
    assert m == [("l", "o"), ("lo", "w"), ("e", "w")]


def test_bpe_merge_apply_leftmost_nonoverlapping(spark):
    from tera_spark.operators.textops import bpe_train_merges

    # 'aaaa' x3: pair (a,a) counted per adjacency; leftmost-first apply
    # must produce [aa, aa] then [aaaa], never overlap a single 'a'
    d = spark.createDataFrame([(0, "aaaa aaaa aaaa")], "doc_id long, text string")
    m = bpe_train_merges(d, n_merges=2)
    assert m == [("a", "a"), ("aa", "aa")]


def test_bpe_tokenize_applies_merges_in_rank_order(spark):
    from tera_spark.operators.textops import bpe_tokenize

    d = spark.createDataFrame([(0, "lowest newer")], "doc_id long, text string")
    merges = [("l", "o"), ("lo", "w"), ("e", "w"), ("n", "ew"), ("e", "r")]
    r = bpe_tokenize(d, merges).collect()[0]
    assert list(r.tokens) == ["low", "e", "s", "t", "n", "ew", "er"] or \
           list(r.tokens) == ["low", "e", "s", "t", "new", "er"]
    # exact: 'newer' -> n+ew applied (rank 4) before e+r (rank 5)
    assert list(r.tokens) == ["low", "e", "s", "t", "new", "er"]
    assert r.n_tokens == 6


def test_weighted_interleave_stride_mix(spark):
    from tera_spark.sources.sharding import weighted_interleave

    rows = [(i, "a") for i in range(60)] + [(100 + i, "b") for i in range(30)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = weighted_interleave(d, {"a": 0.6, "b": 0.3}, key_col="doc_id").collect()
    order = [r.source for r in sorted(out, key=lambda r: r.global_rank)]
    # every consecutive window of 3 holds exactly 2 a's and 1 b
    for i in range(0, 90, 3):
        win = order[i : i + 3]
        assert win.count("a") == 2 and win.count("b") == 1, (i, win)
    # deterministic across runs
    out2 = weighted_interleave(d, {"a": 0.6, "b": 0.3}, key_col="doc_id").collect()
    assert sorted((r.global_rank, r.doc_id) for r in out) == sorted(
        (r.global_rank, r.doc_id) for r in out2
    )


def test_compression_ratio_orders_redundancy(spark):
    from tera_spark.operators.textops import compression_ratio

    d = spark.createDataFrame(
        [
            (0, "spam " * 200),               # highly redundant
            (1, "k9#Qz@xv!M2$wL7&pR4^tB8*yH6%dN3(jF5)gS1-cV0_eA"),  # ~incompressible
            (2, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in compression_ratio(d).collect()}
    assert out[0].ratio < 0.1            # repetition compresses hard
    assert out[1].ratio > 0.5            # random-ish stays large
    assert out[2].ratio == 1.0 and out[2].n_bytes == 0
    # deterministic across runs
    again = {r.doc_id: r.ratio for r in compression_ratio(d).collect()}
    assert again == {k: v.ratio for k, v in out.items()}


def test_phash_duplicates_near_and_far(spark):
    from tera_spark.operators.multimodal import phash_duplicates

    base = bytes(range(256)) * 8
    nearly = bytearray(base)
    nearly[5] = 250  # tiny byte-level perturbation
    other = bytes((i * 37 + 11) % 256 for i in range(2048))
    rows = [
        (1, "image", base, None),
        (2, "image", bytes(nearly), None),
        (3, "image", other, None),
        (4, "audio", base, None),  # non-image: excluded
    ]
    from tera_spark.operators.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_duplicates(df, fake_decode=True).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 4
    assert all({a, b} == {1, 2} for a, b in pairs)  # no far pair, no audio


def test_chunk_documents_windows(spark):
    from tera_spark.operators.textops import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_len, r.chunk_text))
    # 10 tokens, window 4, stride 3 → starts 0,3,6,9; overlap of 1 token
    assert [c[2] for c in sorted(by_doc[1])] == [
        "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9",
    ]
    assert [c[1] for c in sorted(by_doc[1])] == [4, 4, 4, 1]
    # short docs yield one (possibly short) chunk
    assert by_doc[2] == [(0, 2, "a b")]
    assert by_doc[3] == [(0, 1, "solo")]
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=0)


def test_dsir_importance_prefers_target_like(spark):
    from tera_spark.operators.textops import dsir_importance

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta epsilon") for i in range(5)],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(0, "alpha beta gamma alpha beta"), (1, "zz yy xx ww vv uu")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dsir_importance(cands, target).collect()}
    # per-token importance: target-vocabulary doc must outscore the
    # off-distribution doc
    assert out[0].logw_micro / out[0].n_tokens > out[1].logw_micro / out[1].n_tokens
    assert out[0].n_tokens == 5 and out[1].n_tokens == 6


def test_int8_quantization_roundtrip(spark):
    from tera_spark.operators.similarity import int8_topk, quantize_int8

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (2, [0.0, 1.0, 0.0]),
         (3, [-0.5, -0.5, 0.7]), (4, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = {r.vec_id: r for r in quantize_int8(vecs).collect()}
    assert q[0].codes == [127.0, 0.0, 0.0]
    assert q[4].codes == [0.0, 0.0, 0.0] and q[4].scale == 0.0
    # codes stay in int8 range
    assert all(abs(c) <= 127 for r in q.values() for c in r.codes)
    # quantized neighbours preserve the obvious ranking
    top = int8_topk(vecs.filter("vec_id < 4"), vecs.filter("vec_id = 0"), k=2).collect()
    assert [r.v_id for r in sorted(top, key=lambda r: r.rank)] == [1, 2]


def test_brute_topk_numpy_kernel_bit_parity(spark):
    """The r9 Arrow/numpy brute-force similarity kernel must be
    bit-identical to the interpreted expression fold it replaces —
    same sims, same ranks, for floats AND int8 codes (contract the
    oracle gate re-proves end-to-end at sf0.01)."""
    import math

    from tera_spark.operators.similarity import cosine_topk, int8_topk

    rows = [
        (i, [math.sin(i * 13.7 + j * 0.31) * (1 + 0.01 * j) for j in range(16)])
        for i in range(60)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = vecs.filter("vec_id < 4")
    for op in (cosine_topk, int8_topk):
        expr = sorted(map(tuple, op(vecs, q, k=7, kernel="expr").collect()))
        np_k = sorted(map(tuple, op(vecs, q, k=7, kernel="numpy").collect()))
        assert expr == np_k


@pytest.mark.slow
def test_pagerank_hub_and_symmetry(spark):
    from tera_spark.operators.graph import UNIT, pagerank

    # star: hub 0 connected to 1..4 — hub must dominate
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "id_a long, id_b long"
    )
    r = {row.id: row.rank_units for row in pagerank(star).collect()}
    assert r[0] > r[1] and len(set(r[i] for i in range(1, 5))) == 1
    # triangle: perfect symmetry → identical integer ranks, mass ≈ 1
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    rt = [row.rank_units for row in pagerank(tri).collect()]
    assert len(set(rt)) == 1
    assert abs(sum(rt) - UNIT) < 1000  # floor-division dust only
    # empty graph → empty result
    assert pagerank(star.limit(0)).count() == 0


def test_triangle_counts_canonical(spark):
    from tera_spark.operators.graph import triangle_counts

    # triangle 1-2-3 plus a dangling chain 3-4-5: only the triangle counts
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (2, 1)],  # dup edge reversed
        "id_a long, id_b long",
    )
    r = {row.id: row.n_triangles for row in triangle_counts(edges).collect()}
    assert r == {1: 1, 2: 1, 3: 1}


def test_containment_doc_inside_doc(spark):
    """The asymmetric case symmetric Jaccard misses: a short excerpt
    fully contained in a much longer page has low Jaccard but
    containment 1.0 in the excerpt->page direction."""
    from tera_spark.operators.dedup import containment_pairs

    excerpt = "alpha beta gamma delta epsilon zeta eta theta"
    page = excerpt + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    df = spark.createDataFrame(
        [(0, excerpt), (1, page), (2, "totally unrelated content about engines here")],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): (r.containment, r.direction) for r in
           containment_pairs(df, threshold=0.9).collect()}
    assert got == {(0, 1): (1.0, "a_in_b")}

    # symmetric Jaccard on the same pair is far below the threshold
    j = jaccard_pairs(df, bucket_expr=F.lit(0), threshold=0.0)
    jac = {(r.id_a, r.id_b): r.jaccard for r in j.collect()}[(0, 1)]
    assert jac < 0.2
