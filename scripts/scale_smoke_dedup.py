#!/usr/bin/env python
"""Dedup-pipeline scale smoke: drive N synthetic documents (deterministic
generator, planted near-duplicates) through the full MinHash → LSH-band →
bucket-join → Jaccard-verify pipeline and report throughput.

This measures the engine's LLM-dedup path at volume the fixture tables
can't provide (sf0.1 has 5k docs); results land in SCALE.md. Run
standalone: `python scripts/scale_smoke_dedup.py [n_docs]`.
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

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
# Fingerprint medium, forced through the scale-gate floor that
# functions/cache.materialize consults. "storage" (default) drops the
# floor to 0, so the fingerprint/band-sig intermediates go to Parquet —
# the deployment shape, heap-independent (5M docs passes at a 16 GB
# driver heap). "cache" raises it past any estimate, so they are
# persisted (needs ~64 GB driver heap at 5M docs; kept for A/B).
MODE = sys.argv[2] if len(sys.argv) > 2 else "storage"
GATE_BYTES = {"storage": 0, "cache": 1 << 62}[MODE]
WORDS = 80  # tokens per doc


def main() -> None:
    spark = get_spark("dedup_smoke")
    # deterministic corpus: ~10% of docs are near-duplicates of a base
    # doc (same token stream, one token changed); tokens drawn from a
    # 1000-word vocabulary by hashing (no RNG state, fully replayable)
    base = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 10 == 9).alias("is_dup"),
        # dup docs reuse their predecessor's content seed
        F.when(F.col("id") % 10 == 9, F.col("id") - 1).otherwise(F.col("id")).alias("seed"),
    )
    tok = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS - 1)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("seed"), i), F.lit(1000)).cast("string")
        ),
    )
    # near-dup: replace the first token so exact-dedup can't catch it
    docs = base.select(
        "doc_id",
        F.when(
            F.col("is_dup"),
            F.concat_ws(" ", F.concat(F.array(F.lit("changed")), F.slice(tok, 2, WORDS - 1))),
        )
        .otherwise(F.concat_ws(" ", tok))
        .alias("text"),
    )
    import tempfile

    run_dir = tempfile.mkdtemp(prefix="dedup_smoke_")
    # materialize the corpus to PARQUET, not cache(): at 100 TB the
    # corpus always arrives from storage, and at 5M docs a cached
    # corpus competes with the whole pipeline for the 16 GB default
    # heap — the exact dependence the storage branch removes
    docs.repartition(32).write.parquet(f"{run_dir}/corpus")
    docs = spark.read.parquet(f"{run_dir}/corpus")
    n = docs.count()  # materialized outside the timed section

    from tera_spark.operators.dedup import lsh_bucket_stats, verified_near_duplicates

    # bucket audit FIRST (the dashboard an operator reads before pair
    # generation): proves the pair volume is bucket-bounded — candidate
    # pairs grow with bucket sizes, never with n² — and measures the
    # cap hit rate the capped run below will incur
    cap = 64
    t0 = time.monotonic()
    audit = {
        r["band"]: r.asDict() for r in lsh_bucket_stats(docs, cap=cap).collect()
    }
    audit_s = time.monotonic() - t0
    cand_total = sum(a["candidate_pairs"] for a in audit.values())
    over_cap = sum(a["n_over_cap"] for a in audit.values())
    n_buckets = sum(a["n_buckets"] for a in audit.values())

    from tera_spark import plans

    plans.SCALE_GATE_BYTES = GATE_BYTES
    t0 = time.monotonic()
    pairs = verified_near_duplicates(docs, threshold=0.7, max_bucket_size=cap)
    n_pairs = pairs.count()
    dt = time.monotonic() - t0

    planted = N_DOCS // 10
    print(
        json.dumps(
            {
                "metric": "dedup_smoke",
                "fingerprint_mode": MODE,
                "driver_mem": __import__("os").environ.get(
                    "TERA_SPARK_DRIVER_MEM", "16g (default)"
                ),
                "n_docs": n,
                "planted_near_dups": planted,
                "verified_pairs": n_pairs,
                "recall_lower_bound": round(min(n_pairs / planted, 1.0), 4),
                "wall_s": round(dt, 1),
                "docs_per_s": round(n / dt),
                "bucket_audit": {
                    "audit_s": round(audit_s, 1),
                    "cap": cap,
                    "n_buckets": n_buckets,
                    "max_bucket": max(a["max_bucket"] for a in audit.values()),
                    "candidate_pairs": cand_total,
                    "candidate_pairs_per_doc": round(cand_total / n, 3),
                    "buckets_over_cap": over_cap,
                    "over_cap_rate": round(over_cap / max(n_buckets, 1), 6),
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
