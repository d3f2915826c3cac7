"""Input-layout invariance of the trained-codebook paths.

The semantic-dedup / ANN oracles replay train_kmeans and train_pq in
DuckDB SQL expecting BIT-identical results — which is only sound if
training is invariant to input row order and partitioning (the claim
made in similarity.py: deterministic h60 seeds, argmin tie-breaks,
3dp-quantized means). The fixtures exercise exactly one layout; these
tests perturb the layout (scrambled order, different partitioning,
reversed order) and assert the trained artifacts and downstream pairs
do not move."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _corpus(spark, n=300, dim=8):
    """Deterministic clustered corpus, hash-generated (no RNG state)."""
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            (F.pmod(F.xxhash64(F.pmod(F.col("id"), F.lit(5)), j), F.lit(1001)) - 500.0)
            / 500.0
            + (F.pmod(F.xxhash64(F.col("id"), j + dim), F.lit(1001)) - 500.0) / 5000.0
        ).cast("double"),
    )
    return spark.range(n).select(F.col("id").alias("vec_id"), vec.alias("embedding"))


def _layouts(df):
    yield df.orderBy(F.xxhash64("vec_id"))  # scrambled order
    yield df.repartition(7, "vec_id")  # different partitioning
    yield df.orderBy(F.col("vec_id").desc()).coalesce(1)  # reversed, 1 part


@pytest.mark.slow
def test_train_kmeans_layout_invariant(spark):
    from tera_spark.operators.similarity import train_kmeans

    base = _corpus(spark)
    ref = {
        r["centroid_id"]: list(r["embedding"])
        for r in train_kmeans(base, k=4, iters=3, round_to=3).collect()
    }
    for layout in _layouts(base):
        got = {
            r["centroid_id"]: list(r["embedding"])
            for r in train_kmeans(layout, k=4, iters=3, round_to=3).collect()
        }
        assert got == ref


@pytest.mark.slow
def test_train_kmeans_sample_layout_invariant(spark):
    """The train_sample draw itself must be layout-invariant: training
    on a 100-row sample out of 300 picks the same 100 rows (smallest
    h60) whatever the input layout."""
    from tera_spark.operators.similarity import train_kmeans

    base = _corpus(spark)
    ref = {
        r["centroid_id"]: list(r["embedding"])
        for r in train_kmeans(base, k=4, iters=3, sample=100, round_to=3).collect()
    }
    for layout in _layouts(base):
        got = {
            r["centroid_id"]: list(r["embedding"])
            for r in train_kmeans(layout, k=4, iters=3, sample=100, round_to=3).collect()
        }
        assert got == ref
    # and sampling genuinely changes the result vs full training
    # (otherwise this test proves nothing about the sample path)
    full = {
        r["centroid_id"]: list(r["embedding"])
        for r in train_kmeans(base, k=4, iters=3, sample=None, round_to=3).collect()
    }
    assert full != ref


@pytest.mark.slow
def test_train_pq_layout_invariant(spark):
    from tera_spark.operators.similarity import train_pq

    base = _corpus(spark)
    ref = train_pq(base, m=4, k=4, iters=2, round_to=3)
    for layout in _layouts(base):
        assert train_pq(layout, m=4, k=4, iters=2, round_to=3) == ref
    # sampled variant too (sample smaller than the corpus)
    ref_s = train_pq(base, m=4, k=4, iters=2, sample=100, round_to=3)
    for layout in _layouts(base):
        assert train_pq(layout, m=4, k=4, iters=2, sample=100, round_to=3) == ref_s


@pytest.mark.slow
def test_semantic_pairs_layout_invariant(spark):
    """End-to-end: the dedup_semantic_trained composition (train →
    assign → within-cluster verify) emits the same pair set whatever
    the input layout — the property the DuckDB unrolled-Lloyd oracle
    depends on."""
    from tera_spark.operators.similarity import ivf_near_pairs, train_kmeans

    base = _corpus(spark)

    def pairs(df):
        cents = train_kmeans(df, k=4, iters=3, round_to=3)
        return {
            (r.id_a, r.id_b, r.sim)
            for r in ivf_near_pairs(df, cents, threshold=0.8).collect()
        }

    ref = pairs(base)
    assert ref  # non-degenerate: the clustered corpus must yield pairs
    for layout in _layouts(base):
        assert pairs(layout) == ref
