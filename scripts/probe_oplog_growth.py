#!/usr/bin/env python
"""Read cost against op-log growth under SDK writes.

Bulk-loads a generated table the way perfbench ``cells`` does (one
Spark append of N rows with ~1 KB values), then issues single-cell
``Table.put`` calls. Every SDK write adds one op-log file and one
commit record, so at each checkpoint (total puts so far) it reports:

  * the op-log file count;
  * ``Table.get`` p50 / p99 over uniform random keys;
  * ``Seeker.scan_range`` p50 over 1..100-row ranges;
  * the catalog's block cache: the gets' hit ratio (hits over row
    group lookups) and the cached MB after the scans (which only use
    hits, so they do not grow it).

Run: ``python scripts/probe_oplog_growth.py [--rows 10000]
[--puts 0,400,1000] [--gets 300] [--scans 50]``. Prints one markdown
table row per checkpoint and a final JSON line.
"""

from __future__ import annotations

import argparse
import json
import random
import statistics
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(int(q * len(xs)), len(xs) - 1)]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", type=int, default=10_000)
    ap.add_argument("--value-bytes", type=int, default=1000)
    ap.add_argument("--puts", default="0,400,1000", help="checkpoints: total puts so far")
    ap.add_argument("--gets", type=int, default=300)
    ap.add_argument("--scans", type=int, default=50)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tera_spark.client import Client
    from tera_spark.model import CellOp
    from tera_spark.operators.seek import Seeker
    from tera_spark.session import get_spark

    spark = get_spark("probe_oplog_growth")
    rng = random.Random(args.seed)

    def key(i: int) -> str:
        return f"row{i:021d}"

    results = []
    with tempfile.TemporaryDirectory() as root:
        client = Client(spark, root)
        client.create_table("t { d <maxversions=1> }")
        cells = spark.range(args.rows).select(
            F.format_string("row%021d", "id").alias("row_key"),
            F.lit("d").alias("cf"),
            F.lit("q").alias("qualifier"),
            F.lit(1).cast("long").alias("ts"),
            F.lit(CellOp.PUT).alias("op"),
            F.rpad(F.col("id").cast("string"), args.value_bytes, "x").cast("binary").alias("value"),
            F.col("id").alias("seq"),
        )
        client.catalog.append("t", cells, commit_seq=args.rows - 1, op_kinds=[CellOp.PUT])
        table = client.open_table("t")
        seeker = Seeker(client.catalog, "t")
        done = 0
        cache = client.catalog.block_cache
        print("| op-log files (after N puts) | `Table.get` p50 / p99 | `Seeker.scan_range` p50 "
              "| cache hit ratio, MB |")
        print("|---|---|---|---|")
        for target in (int(x) for x in args.puts.split(",")):
            for _ in range(target - done):
                table.put(key(rng.randrange(args.rows)), "d", "q", b"p" * args.value_bytes)
            done = max(done, target)
            n_files = len(client.catalog.tablet_info("t"))
            for _ in range(10):  # warm the index and the page cache
                table.get(key(rng.randrange(args.rows)))
            before = cache.stats()
            gets = []
            for _ in range(args.gets):
                k = key(rng.randrange(args.rows))
                t0 = time.perf_counter()
                got = table.get(k)
                gets.append((time.perf_counter() - t0) * 1e3)
                assert got["d"]["q"], f"get {k} found no cell"
            hits, misses = (cache.stats()[k] - before[k] for k in ("hits", "misses"))
            scans = []
            for _ in range(args.scans):
                lo = rng.randrange(args.rows - 100)
                n = rng.randint(1, 100)
                t0 = time.perf_counter()
                out = list(seeker.scan_range(key(lo), key(lo + n)))
                scans.append((time.perf_counter() - t0) * 1e3)
                assert len({c[0] for c in out}) == n, "scan_range lost rows"
            r = {
                "puts": done,
                "files": n_files,
                "get_p50_ms": round(statistics.median(gets), 2),
                "get_p99_ms": round(_pct(gets, 0.99), 2),
                "scan_range_p50_ms": round(statistics.median(scans), 2),
                "cache_hit_ratio": round(hits / max(hits + misses, 1), 3),
                "cache_mb": round(cache.stats()["bytes"] / 1e6, 1),
            }
            results.append(r)
            print(
                f"| {r['files']} ({done}) | {r['get_p50_ms']} / {r['get_p99_ms']} ms "
                f"| {r['scan_range_p50_ms']} ms | {r['cache_hit_ratio']}, {r['cache_mb']} |",
                flush=True,
            )
    print(json.dumps({"rows": args.rows, "value_bytes": args.value_bytes, "checkpoints": results}))
    spark.stop()


if __name__ == "__main__":
    main()
