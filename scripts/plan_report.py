#!/usr/bin/env python
"""Generate PLANS.md: physical-plan evidence for the plan-shape claims
in SCALE.md. For every registered query, count the wide/narrow plan
features (exchanges, join strategies, codegen spans, pushed filters);
include full formatted plans for a few flagship operators.

Run from the repo root: python scripts/plan_report.py
(driver-only for the RETURNED plans — .explain compiles, it does not
run jobs; operators whose shared intermediate takes the storage branch
of functions/cache.materialize do run its build jobs during
construction, which is how the mat-Ex column is observed).
Feature extraction lives in the package: tera_spark/plans/.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tera_spark.plans import plan_features, plan_str  # noqa: E402

SF = "/root/testdata/sf0.001"

FLAGSHIPS = [
    "cell_tombstone_mask",
    "dedup_lsh_verified",
    "q3_shipping_priority",
    "ann_ivf_topk",
]


def main() -> None:
    import __spark_entry__ as E
    from tera_spark.functions.cache import set_materialize_observer
    from tera_spark.session import get_spark

    spark = get_spark("plan_report")
    qs = E.queries()

    rows = []
    full = {}
    mat_feats: list = []

    def observe(df):
        plan = plan_str(df, "simple")
        mat_feats.append(plan_features(plan.split("== Physical Plan ==")[-1]))

    set_materialize_observer(observe)
    try:
        for name in sorted(qs):
            mat_feats.clear()
            try:
                df = qs[name](spark, SF)
                plan = plan_str(df, "simple")
            except Exception as e:  # pragma: no cover - report, don't die
                rows.append((name, f"ERROR {e}", None))
                continue
            f = plan_features(plan.split("== Physical Plan ==")[-1])
            mat = (
                {
                    "n": len(mat_feats),
                    "exchanges": sum(m["exchanges"] for m in mat_feats),
                    "cartesian": sum(m["cartesian"] for m in mat_feats),
                }
                if mat_feats
                else None
            )
            rows.append((name, f, mat))
            if name in FLAGSHIPS:
                full[name] = plan_str(df, "formatted")
    finally:
        set_materialize_observer(None)

    out = [
        "# PLANS — physical-plan evidence (generated by scripts/plan_report.py)",
        "",
        f"Explained against `{SF}` (plan shape is data-size-independent; "
        "file counts and AQE splits are not).",
        "",
        "Legend: **Ex** = Exchange (shuffle) count (ReusedExchange counted "
        "separately — a reuse is a read, not a new shuffle), **BHJ/SMJ** = "
        "broadcast-hash / sort-merge joins, **Py** = Python eval nodes "
        "(0 everywhere except the two declared Arrow mapInPandas paths: "
        "multimodal codecs and the ANN assignment/PQ-encode numpy kernels), "
        "**push** = Parquet PushedFilters present. (Codegen spans are "
        "assigned at execution under AQE, so they are not listed for "
        "these pre-execution plans.) Py counts occurrences in the plan "
        "TEXT: a persisted subtree read through several "
        "InMemoryTableScans prints its Arrow kernels once per reference "
        "but executes them once (e.g. pipeline_media_curation persists "
        "the 7-codec bag and reads it from cache in 6 branches).",
        "",
        "**mat-Ex** (storage-branch operators only): an operator whose "
        "shared intermediate's plan estimate reaches the scale gate "
        "(functions/cache.py::materialize) writes it to Parquet in "
        "MATERIALIZATION build jobs that run before the returned plan "
        "exists, so the returned plan's Ex honestly reads low (the consumers scan "
        "Parquet) while the real shuffles live in the build jobs. mat-Ex "
        "reports them as `jobs/exchanges`: the number of materialized "
        "intermediates and the summed Exchange count of their plans, "
        "captured via functions/cache.py::set_materialize_observer at the "
        "moment each intermediate is written. `-` = no storage-branch "
        "intermediate in the query. Cartesian products in build jobs are "
        "counted into the cartesian column.",
        "",
        "Ex counts the STATIC (pre-AQE) plan: a shared subtree referenced "
        "by several consumers prints its exchange once per reference, but "
        "AQE deduplicates identical shuffle stages at runtime "
        "(ReusedExchange in the executed plan). Where that matters the "
        "executed-plan evidence is committed alongside — e.g. "
        "pipeline_dsir_importance reads Ex=13 here while its runtime plan "
        "tokenizes candidates ONCE "
        "(plans/r09/pipeline_dsir_importance_after_executed.txt).",
        "",
        "| query | Ex | mat-Ex | reuse | BHJ | SMJ | cartesian | Py | push |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, f, mat in rows:
        if isinstance(f, str):
            out.append(f"| {name} | {f} |")
        else:
            mat_s = f"{mat['n']}/{mat['exchanges']}" if mat else "-"
            cart = f["cartesian"] + (mat["cartesian"] if mat else 0)
            out.append(
                f"| {name} | {f['exchanges']} | {mat_s} | "
                f"{f['reused_exchanges']} | "
                f"{f['bhj']} | {f['smj']} | {cart} | "
                f"{f['python']} | {'y' if f['pushed'] else '-'} |"
            )
    out += ["", "## Flagship formatted plans", ""]
    for name, plan in full.items():
        out += [f"### {name}", "", "```", plan.strip(), "```", ""]

    Path("PLANS.md").write_text("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
