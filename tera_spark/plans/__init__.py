"""Plan introspection: the debug/evidence surface of the engine.

The reference exposes tablet topology for operators to reason about
placement (`GetTabletLocation`, include/tera/table.h:131-133); the
Spark-native equivalent of "show me how this will execute" is the
physical plan. This module turns `df.explain` output into structured
facts — shuffle counts, join strategies, Python-eval nodes, pushed
filters — used by tests/test_plan_quality.py (plan-hygiene gate) and
scripts/plan_report.py (PLANS.md evidence generator). It also holds
the one scale gate every size-adaptive operator consults.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


# Plan-size floor of the scale gate. Below it a shape's fixed costs
# (an extra exchange, the JVM↔Python boundary, a second tokenize pass)
# outweigh what it saves; above it the scale-safe shape wins. Bytes,
# not cores: the crossover is a property of the data. Consumers: the
# brute-force cosine numpy kernel (similarity), the DSIR shared fold
# (textops) and the LSH bucket cap (dedup).
SCALE_GATE_BYTES = 32 << 20


def scale_gate(df: DataFrame) -> bool:
    """True when ``df``'s optimized-plan size estimate reaches
    ``SCALE_GATE_BYTES``, i.e. the caller should take its scale-safe
    branch. An estimate that cannot be computed also answers True: a
    gate that fails must fail toward the shape that survives scale."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return True
    return est >= SCALE_GATE_BYTES


def plan_str(df: DataFrame, mode: str = "simple") -> str:
    """The explain output as a string (driver-only: compiles, never runs)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def dedupe_cached_subtrees(plan: str) -> str:
    """Keep each InMemoryRelation's child plan once. Every
    InMemoryTableScan textually repeats the cached plan beneath it, so
    a persisted subtree read N times would otherwise count its
    exchanges N times — the whole point of persisting is that it runs
    ONCE."""
    out, seen, skip_indent = [], set(), None
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-")
        indent = len(line) - len(stripped)
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if stripped.startswith("InMemoryRelation"):
            key = re.sub(r"#\d+", "", stripped)  # expr ids differ per read
            if key in seen:
                skip_indent = indent
                continue
            seen.add(key)
        out.append(line)
    return "\n".join(out)


def plan_features(plan: str) -> dict:
    """Count the wide/narrow features of a physical-plan string."""
    plan = dedupe_cached_subtrees(plan)
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan))
        - len(re.findall(r"ReusedExchange", plan)),
        "reused_exchanges": len(re.findall(r"ReusedExchange", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "python": len(
            re.findall(
                r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
                plan,
            )
        ),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
    }


def explain_features(df: DataFrame) -> dict:
    """plan_features of a DataFrame's simple physical plan."""
    plan = plan_str(df, "simple")
    body = plan.split("== Physical Plan ==")[-1]
    return plan_features(body)
