"""Persistent IVF-PQ index: build → save → load → search, with
partition-pruned probes and sane recall against brute force."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tera_spark.operators.similarity import cosine_topk
from tera_spark.operators.vector_index import VectorIndex


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.mark.slow
def test_build_load_search_deterministic(spark, tmp_path):
    emb = _emb(spark)
    idx = VectorIndex.build(emb, str(tmp_path / "vi"), k_coarse=4, m=8, k_codes=8, iters=1)
    q = emb.filter(F.col("vec_id") < 3)
    r1 = idx.topk(q, k=5, nprobe=2).collect()
    # reload from disk -> identical results
    idx2 = VectorIndex.load(spark, str(tmp_path / "vi"))
    r2 = idx2.topk(q, k=5, nprobe=2).collect()
    key = lambda r: (r.q_id, r.rank)
    assert sorted(((r.q_id, r.rank, r.v_id, r.adc_d2) for r in r1)) == sorted(
        ((r.q_id, r.rank, r.v_id, r.adc_d2) for r in r2)
    )
    per_q = {}
    for r in r1:
        per_q.setdefault(r.q_id, []).append(r)
    assert set(per_q) == {0, 1, 2}
    for rows in per_q.values():
        assert sorted(r.rank for r in rows) == [1, 2, 3, 4, 5]
        assert all(r.v_id != r.q_id for r in rows)


def test_codes_layout_is_cluster_partitioned(spark, tmp_path):
    emb = _emb(spark)
    VectorIndex.build(emb, str(tmp_path / "vi2"), k_coarse=4, m=4, k_codes=4, iters=1)
    parts = sorted(p.name for p in (tmp_path / "vi2" / "codes").iterdir() if p.is_dir())
    assert parts and all(p.startswith("cluster=") for p in parts)


@pytest.mark.slow
def test_recall_vs_brute_force(spark, tmp_path):
    emb = _emb(spark)
    idx = VectorIndex.build(emb, str(tmp_path / "vi3"), k_coarse=4, m=16, k_codes=64, iters=2)
    q = emb.filter(F.col("vec_id") < 10)
    approx = idx.topk(q, k=10, nprobe=4).collect()  # nprobe=k_coarse: scan all lists
    exact = cosine_topk(emb, q, k=10).collect()
    a = {}
    for r in approx:
        a.setdefault(r.q_id, set()).add(r.v_id)
    e = {}
    for r in exact:
        e.setdefault(r.q_id, set()).add(r.v_id)
    recalls = [len(a[qid] & e[qid]) / 10 for qid in e]
    # near-random synthetic vectors are PQ's worst case (neighbor gaps
    # are tiny); measured: m=8/k=16 -> 0.18, m=16/k=64 -> 0.55,
    # m=32/k=64 -> 0.75. Chance is 10/499 ~ 0.02 — require the
    # mid-resolution codebook to land where it measures.
    assert sum(recalls) / len(recalls) > 0.4, recalls


@pytest.mark.slow
def test_incremental_append_searchable(spark, tmp_path):
    emb = _emb(spark)
    first = emb.filter(F.col("vec_id") < 250)
    rest = emb.filter(F.col("vec_id") >= 250)
    idx = VectorIndex.build(first, str(tmp_path / "vi4"), k_coarse=4, m=8, k_codes=16, iters=1)
    idx.append(rest)
    q = emb.filter(F.col("vec_id") < 2)
    hits = idx.topk(q, k=200, nprobe=4).collect()
    ids = {r.v_id for r in hits}
    assert any(i >= 250 for i in ids), "appended vectors never surface in search"
    # total corpus searchable = everything minus the queries themselves
    total = spark.read.parquet(str(tmp_path / "vi4" / "codes")).count()
    assert total == emb.count()


@pytest.mark.slow
def test_streaming_append_maintains_index(spark, tmp_path):
    """Steady-state ingestion as a stream: new embedding batches arrive
    in a directory, foreachBatch encodes them against the frozen
    codebook (map-only) and appends to the cluster partitions — the
    index is continuously searchable without retraining, and the
    checkpoint makes each batch append exactly once."""
    emb = _emb(spark)
    first = emb.filter(F.col("vec_id") < 250)
    rest = emb.filter(F.col("vec_id") >= 250)
    idx = VectorIndex.build(first, str(tmp_path / "vi5"), k_coarse=4, m=8, k_codes=16, iters=1)

    inbox = str(tmp_path / "inbox")
    rest.write.mode("overwrite").parquet(inbox)
    stream = spark.readStream.schema(emb.schema).parquet(inbox)
    q = (
        stream.writeStream.foreachBatch(lambda batch, epoch: idx.append(batch))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    total = spark.read.parquet(str(tmp_path / "vi5" / "codes")).count()
    assert total == emb.count()
    hits = idx.topk(emb.filter(F.col("vec_id") < 2), k=200, nprobe=4).collect()
    assert any(r.v_id >= 250 for r in hits), "streamed vectors never surface in search"

    # re-running the drained stream appends nothing (ack = checkpoint)
    q2 = (
        spark.readStream.schema(emb.schema).parquet(inbox)
        .writeStream.foreachBatch(lambda batch, epoch: idx.append(batch))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "vi5" / "codes")).count() == emb.count()


@pytest.mark.slow
def test_filtered_search_prefilters_at_codes_scan(spark, tmp_path):
    """topk(allowed=...) must (a) return only allowed ids, (b) match
    the exact filtered twin when every list is probed and the rerank
    set covers the corpus, and (c) beat post-filtering, which
    under-fills k under a selective predicate."""
    from pyspark.sql import functions as F

    from tera_spark.operators.similarity import cosine_topk

    emb = _emb(spark)
    idx = VectorIndex.build(emb, str(tmp_path / "vif"), k_coarse=4, m=16, k_codes=64, iters=2)
    qs = emb.filter(F.col("vec_id") < 10)
    evens = emb.filter(F.col("label") % 2 == 0).select("vec_id")
    got = idx.topk(qs, k=5, nprobe=4, rerank=1000, allowed=evens)
    rows = got.collect()
    even_ids = {r.vec_id for r in evens.collect()}
    assert rows and all(r.v_id in even_ids for r in rows)

    exact = cosine_topk(emb.filter(F.col("label") % 2 == 0), qs, k=5)
    want = {(r.q_id, r.rank): r.v_id for r in exact.collect()}
    got_map = {(r.q_id, r.rank): r.v_id for r in rows}
    assert got_map == want

    # post-filter contrast: unfiltered top-5 then drop odd labels
    # loses answers for at least one query
    unf = idx.topk(qs, k=5, nprobe=4, rerank=1000)
    post = [r for r in unf.collect() if r.v_id in even_ids]
    per_q = {}
    for r in post:
        per_q[r.q_id] = per_q.get(r.q_id, 0) + 1
    assert any(v < 5 for v in per_q.values()) or len(per_q) < 10


@pytest.mark.slow
def test_selective_filter_takes_brute_fallback_full_recall(spark, tmp_path):
    """A 5% allow-list is the known pre-filtered-IVF failure mode
    (nearest allowed vectors may sit in unprobed cells). Below
    brute_limit the index must bypass probing and exact-score the
    filtered refinement store — full recall against the exact twin
    regardless of where the allowed ids landed in the clustering."""
    emb = _emb(spark)
    idx = VectorIndex.build(emb, str(tmp_path / "vib"), k_coarse=4, m=8, k_codes=16, iters=1)
    qs = emb.filter(F.col("vec_id") < 8)
    allowed = emb.filter(F.col("vec_id") % 20 == 7).select("vec_id")
    got = idx.topk(qs, k=5, nprobe=1, allowed=allowed)  # nprobe=1 would starve IVF
    rows = got.collect()
    allowed_ids = {r.vec_id for r in allowed.collect()}
    assert rows and all(r.v_id in allowed_ids for r in rows)
    exact = cosine_topk(emb.join(allowed, "vec_id", "left_semi"), qs, k=5)
    want, have = {}, {}
    for r in exact.collect():
        want.setdefault(r.q_id, set()).add(r.v_id)
    for r in rows:
        have.setdefault(r.q_id, set()).add(r.v_id)
    assert have == want  # recall 1.0 per query
    # fallback path reports exact distances in both score columns
    assert all(abs(r.adc_d2 - r.d2) < 1e-12 for r in rows)


@pytest.mark.slow
def test_effective_nprobe_scales_inverse_selectivity(spark, tmp_path):
    emb = _emb(spark)
    idx = VectorIndex.build(emb, str(tmp_path / "vin"), k_coarse=4, m=4, k_codes=4, iters=1)
    assert idx.n_vectors == 500
    assert idx._effective_nprobe(2, 500) == 2  # unselective: unchanged
    assert idx._effective_nprobe(2, 250) == 4  # 50% -> doubled
    assert idx._effective_nprobe(2, 5) == 4    # 1% -> clamped to k_coarse
    assert idx._effective_nprobe(2, 0) == 4    # empty list: probe all


@pytest.mark.slow
def test_filtered_above_brute_limit_widens_to_full_probe(spark, tmp_path):
    """Past brute_limit the IVF path must widen nprobe inversely with
    selectivity — at this scale that means probing every cell, so the
    result set equals the exact filtered twin."""
    emb = _emb(spark)
    idx = VectorIndex.build(emb, str(tmp_path / "viw"), k_coarse=4, m=16, k_codes=64, iters=2)
    qs = emb.filter(F.col("vec_id") < 5)
    allowed = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")  # 50 ids
    got = idx.topk(qs, k=5, nprobe=1, rerank=1000, allowed=allowed, brute_limit=10)
    exact = cosine_topk(emb.join(allowed, "vec_id", "left_semi"), qs, k=5)
    want = {(r.q_id, r.rank): r.v_id for r in exact.collect()}
    have = {(r.q_id, r.rank): r.v_id for r in got.collect()}
    assert have == want


def test_effective_rerank_scales_inverse_selectivity(spark, tmp_path):
    emb = _emb(spark)
    idx = VectorIndex.build(emb, str(tmp_path / "vir"), k_coarse=4, m=4, k_codes=4, iters=1)
    assert idx._effective_rerank(100, 500) == 400   # unselective: 4x floor
    assert idx._effective_rerank(100, 250) == 400   # 50%: floor beats 2x
    assert idx._effective_rerank(100, 50) == 1000   # 10% -> 10x
    assert idx._effective_rerank(100, 5) == 10000   # 1% -> capped at 10k
    assert idx._effective_rerank(20000, 5) == 20000  # cap never shrinks C


@pytest.mark.slow
def test_auto_m_default_picks_largest_divisor(spark, tmp_path):
    """Round-9 codebook decision: omitting m picks the largest divisor
    of dim up to 32 with sub-vector width >= 2 — dim 64 -> m=32, the
    config that measured filtered recall@10 0.998 at 1M/50% (vs 0.964
    at the old m=16; scripts/scale_smoke_filtered_ann.py codebook
    mode). Explicit m is untouched."""
    emb = _emb(spark)
    idx = VectorIndex.build(emb, str(tmp_path / "via"), k_coarse=4, k_codes=8, iters=1)
    assert len(idx.codebook) == 32  # m: dim 64 / 32 -> width-2 subvectors
    assert len(idx.codebook[0][0]) == 2
    q = emb.filter(F.col("vec_id") < 3)
    got = idx.topk(q, k=5, nprobe=4)
    assert got.count() == 15
