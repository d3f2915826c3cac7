"""The headline queries and each workload's own figures.

The bounded end-to-end metrics and the per-layer metrics, with their
units, are the ones BENCHMARK.json names; ``spec`` reads them from
there. ``DETAIL`` holds each workload's own end-to-end figures,
printed on the line before the result.
"""

from __future__ import annotations

import json
from pathlib import Path

# bench.py's headline set, fixed here so the benchmark does not move
# when bench.py does
QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q13_cust_order_distribution",
    "q18_large_volume_customer",
    "q_topk_per_group",
    "cell_multiversion_trim",
    "cell_counter_add_merge",
    "cell_tombstone_mask",
    "events_sessionize",
    "events_tumbling_window",
    "events_m4_downsample",
    "events_dau_mau_stickiness",
    "dedup_exact_hash",
    "dedup_lsh_verified",
    "ann_cosine_topk",
    "ann_int8_topk",
    "text_quality_score",
    "pipeline_doc_chunking",
    "pipeline_dsir_importance",
]

DETAIL = {
    "analytics": {"query_geomean_s": "s", "first_pass_s": "s", "corpus_gen_s": "s"},
    "cells": {
        "ops_per_s": "1/s",
        "get_p50_ms": "ms",
        "get_p99_ms": "ms",
        "put_p50_ms": "ms",
        "put_p90_ms": "ms",
        "incr_p50_ms": "ms",
        "cas_p50_ms": "ms",
        "scan_p50_ms": "ms",
        "write_s": "s",
        "fold_mixed_s": "s",
        "fold_put_only_s": "s",
        "compact_s": "s",
        "fold_compacted_s": "s",
    },
}
for _d in DETAIL.values():
    # the JVM's heap growth follows the collector's sizing, which moved
    # this by ~25% between identical runs: reported, not bounded
    _d.update({"peak_rss_mb": "MB", "passes": "count"})


def spec() -> dict:
    """BENCHMARK.json at the root of the checkout."""
    return json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def units(spec: dict, kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    return {m["name"]: m["unit"] for m in spec[kind]}
