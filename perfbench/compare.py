#!/usr/bin/env python3
"""Compare two sets of benchmark results, one JSON result line per run.

    python3 perfbench/compare.py parent.jsonl change.jsonl

Each file holds the last stdout line of every run of one commit (same
workload, seeds and --seconds on both sides; run the two commits in
alternation). For every metric it prints each side's median and
quartiles, the change's median as a share of the parent's, and how
many runs pair up in the change's favour (the i-th run of one side
against the i-th of the other), where lower is better for everything
but ``*_per_s``.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                for name, m in json.loads(line)["metrics"].items():
                    out.setdefault(name, []).append(m["value"])
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'metric':40} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'ratio':>7} wins")
    for name in a.keys() & b.keys():
        pa, pb = quartiles(a[name]), quartiles(b[name])
        higher = name.endswith("_per_s")
        wins = sum((y > x) if higher else (y < x) for x, y in zip(a[name], b[name]))
        ratio = pb[1] / pa[1] if pa[1] else float("nan")
        print(f"{name:40} {'%.4g/%.4g/%.4g' % pa:>30} {'%.4g/%.4g/%.4g' % pb:>30} "
              f"{ratio:7.3f} {wins}/{min(len(a[name]), len(b[name]))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
