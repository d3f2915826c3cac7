#!/usr/bin/env python
"""Semantic-dedup scale smoke: drive N synthetic clustered vectors
through the SemDeDup composition (train_kmeans sample-train →
ivf_assign → within-cluster cosine pairs) and report wall times, pair
counts, and the persist win — the cached assignment read by both
self-join sides vs recomputing the Arrow kernel per side.

This measures dedup_semantic_trained's path at volume the fixture
tables can't provide (sf0.1 has 2k embeddings); results land in
SCALE.md. Run standalone:
`python scripts/scale_smoke_semdedup.py [n_vecs] [k]`.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from tera_spark.session import get_spark  # noqa: E402

N_VECS = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
K = int(sys.argv[2]) if len(sys.argv) > 2 else 512
DIM = 64
EPS = 0.999  # planted near-dups sit at cos ≈ 1; noise pairs far below


def corpus(spark):
    """Deterministic planted-duplicate corpus (no RNG state): every
    block of 8 ids shares a base vector; ids ≡ 0 (mod 8) add a tiny
    perturbation — each block yields C(8,2) near-identical pairs."""

    def coord(seed_a, seed_b, scale):
        return (
            (F.pmod(F.xxhash64(seed_a, seed_b), F.lit(20001)) - F.lit(10000.0))
            / F.lit(10000.0)
            * F.lit(scale)
        )

    v = spark.range(N_VECS).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda i: (
                coord(F.floor(F.col("id") / 8), i, 1.0)
                + coord(F.col("id"), i + DIM, 0.0005)
            ).cast("float"),
        ).alias("embedding"),
    )
    return v.repartition(32).persist()


def main() -> None:
    spark = get_spark("semdedup_smoke")
    from tera_spark.operators.similarity import ivf_assign, ivf_near_pairs, train_kmeans

    v = corpus(spark)
    v.count()  # materialize the corpus outside the timings

    t0 = time.time()
    cents = train_kmeans(v, k=K, iters=4, round_to=3)
    cents.count()
    t_train = time.time() - t0

    # the per-side recompute form FIRST (so JVM warm-up, if anything,
    # favors it): the assignment kernel planned independently on both
    # self-join sides — what the pre-persist operator executed
    a = ivf_assign(v, cents).alias("a")
    b = ivf_assign(v, cents).alias("b")
    from tera_spark.operators.similarity import cosine

    t0 = time.time()
    n_pairs_recompute = (
        a.join(b, "cluster")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.round(cosine(F.col("a.vec"), F.col("b.vec")), 6).alias("sim"))
        .filter(F.col("sim") >= EPS)
        .count()
    )
    t_recompute = time.time() - t0

    from tera_spark import plans

    def timed_pairs(floor_bytes: int) -> tuple[int, float]:
        # the shared assignment table's medium follows the scale-gate
        # floor (functions/cache.materialize); pin it for one run
        saved, plans.SCALE_GATE_BYTES = plans.SCALE_GATE_BYTES, floor_bytes
        try:
            t0 = time.time()
            return ivf_near_pairs(v, cents, threshold=EPS).count(), time.time() - t0
        finally:
            plans.SCALE_GATE_BYTES = saved

    n_pairs, t_pairs = timed_pairs(1 << 62)  # persisted
    assert n_pairs_recompute == n_pairs

    # the storage branch (round 8): the shared assignment table written
    # to Parquet instead of the executor heap — the corpus-scale shape;
    # pair count must be identical
    n_pairs_storage, t_storage = timed_pairs(0)
    assert n_pairs_storage == n_pairs

    # the sorted-neighborhood scale path: N·window cosines instead of
    # sum(cluster²) — report speedup and recall vs the full verify
    from tera_spark.operators.similarity import windowed_semantic_pairs

    t0 = time.time()
    n_windowed = windowed_semantic_pairs(v, cents, threshold=EPS, window=8).count()
    t_windowed = time.time() - t0

    # nightly-ingest shape: admit a 10% batch against the other 90%
    # as the standing corpus, on the frozen codebook
    from tera_spark.operators.similarity import semantic_admission

    batch = v.filter(F.col("vec_id") % 10 == 0)
    standing = v.filter(F.col("vec_id") % 10 != 0)
    t0 = time.time()
    verdicts = {
        r["verdict"]: r["n"]
        for r in semantic_admission(standing, batch, cents, threshold=EPS)
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    t_admit = time.time() - t0

    print(
        json.dumps(
            {
                "n_vecs": N_VECS,
                "k": K,
                "train_s": round(t_train, 1),
                "pairs_cached_s": round(t_pairs, 1),
                "pairs_storage_s": round(t_storage, 1),
                "pairs_recompute_s": round(t_recompute, 1),
                "n_pairs": n_pairs,
                "windowed_s": round(t_windowed, 1),
                "windowed_recall": round(n_windowed / max(n_pairs, 1), 4),
                "admission_s": round(t_admit, 1),
                "admission_verdicts": verdicts,
            }
        )
    )


if __name__ == "__main__":
    main()
