#!/usr/bin/env python
"""Commit-path probe: per-verb latency and arbiter claims of the SDK's
driver-side commits.

Runs put, increment, landing CAS and get, interleaved, ``--reps`` times
each on a fresh table, then on a table that already holds ``--writes``
single-cell commits (one op-log file and one commit record each).
Reports p50 / p99 in ms and the arbiter claims (``try_claim`` calls)
per verb, plus CPUs and load1, as one JSON line.

    python scripts/probe_commit_path.py [--writes 1000] [--reps 100]

For an A/B, run the same command from two checkouts, alternating.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

VERBS = ("put", "increment", "cas", "get")


def _pct(xs: list[float], q: float) -> float:
    return round(statistics.quantiles(xs, n=100, method="inclusive")[q - 1], 3)


def probe(cat, name: str, reps: int) -> dict:
    from tera_spark.client import Table
    from tera_spark.operators.mutation import MutationBatch

    t = Table(cat, name)
    claims = {v: 0 for v in VERBS}
    verb = ["get"]
    real = cat.arbiter.try_claim

    def counting(*a, **kw):
        claims[verb[0]] += 1
        return real(*a, **kw)

    cat.arbiter.try_claim = counting
    ops = {
        "put": lambda i: t.put(f"p{i % 100:03d}", "d", "q", f"v{i}"),
        "increment": lambda i: t.increment_column_value("ctr", "c", "n", 1),
        # lands on the value this round's put wrote
        "cas": lambda i: t.check_and_apply(
            f"p{i % 100:03d}", "d", "q", f"v{i}",
            MutationBatch().put(f"p{i % 100:03d}", "d", "q", f"c{i}"),
        ),
        "get": lambda i: t.get(f"p{i % 100:03d}"),
    }
    ms: dict[str, list[float]] = {v: [] for v in VERBS}
    try:
        for i in range(reps):
            for v in VERBS:
                verb[0] = v
                t0 = time.perf_counter()
                out = ops[v](i)
                ms[v].append((time.perf_counter() - t0) * 1e3)
                if v == "cas" and not out:
                    raise AssertionError(f"CAS {i} did not land")
    finally:
        cat.arbiter.try_claim = real
    return {
        v: {"p50_ms": _pct(ms[v], 50), "p99_ms": _pct(ms[v], 99), "claims": claims[v] / reps}
        for v in VERBS
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--writes", type=int, default=1000, help="prior commits on the grown table")
    ap.add_argument("--reps", type=int, default=100, help="timed calls per verb and table")
    args = ap.parse_args()

    from tera_spark.catalog import Catalog
    from tera_spark.client import Table
    from tera_spark.session import get_spark

    spark = get_spark("probe_commit_path")
    out: dict = {"reps": args.reps, "writes": args.writes, "cpus": os.cpu_count()}
    with tempfile.TemporaryDirectory(prefix="probe_commit_") as root:
        cat = Catalog(spark, root)
        for name in ("fresh", "grown"):
            cat.create_table(f"{name} {{ d, c }}")
        grown = Table(cat, "grown")
        for i in range(args.writes):
            grown.put(f"w{i:06d}", "d", "q", "v")
        out["load1_start"] = os.getloadavg()[0]
        out["fresh"] = probe(cat, "fresh", args.reps)
        out[f"writes_{args.writes}"] = probe(cat, "grown", args.reps)
        out["load1_end"] = os.getloadavg()[0]
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
