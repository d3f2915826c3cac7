#!/usr/bin/env python
"""Construction vs execution of the merge-on-read fold, per route.

Builds two tables the way perfbench ``cells`` does:

  * ``cells``: N rows of 24-byte keys and ~1 KB values bulk-loaded by
    ``Client``, then one SDK put and one increment, so its op kinds
    are {PUT, ADD} (the general route, no row/family delete marks);
  * ``mix``: a 60k-cell mixed history of every op kind in four
    commits (perfbench/cell_fold.py's ``mixed_cells``), plus three
    tables cut from it that hold only PUT + deletes, only PUT and
    only ADD (the ``merge_free``, ``put_only`` and ``counter`` routes).

For each fold route, for ``Table.scan_df(...).count()`` over a
50-row range on both of its routes (the local relation the gate picks,
and the Spark scan and fold) and for ``Catalog.view`` of the mixed
history it reports the py4j round trips of one construction, the
median construct ms, the median execute ms (``count()``) and the Spark
jobs one execution runs. Construction is everything up to the first
Spark job; on the local route it includes the seek-path read.

``--sweep`` adds the crossover of ``scan_df``'s two routes: two more
tables of ``--sweep-rows`` rows (16 B and 1 KB values; four files of
1,000-row row groups), scanned over ranges aligned to the groups, so
that a range routes exactly 1k, 4k, 8k, 16k and 50k op-log rows, each
on both routes (forced past the gate). Its local rows set
``client._LOCAL_SCAN_ROWS``: the local route must not be slower there.

Run: ``python scripts/probe_fold_construct.py [--rows 10000]
[--cells 60000] [--reps 3] [--sweep] [--sweep-rows 52000]``. Prints one
markdown table row per case and a final JSON line.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


class CallCounter:
    """Counts the calling thread's py4j round trips (``send_command``)
    while active."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self._orig = self.client.send_command

    def __enter__(self) -> CallCounter:
        self.calls = 0
        me = threading.get_ident()

        def counted(*a, **k):
            self.calls += threading.get_ident() == me
            return self._orig(*a, **k)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        del self.client.send_command


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", type=int, default=10_000)
    ap.add_argument("--cells", type=int, default=60_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sweep", action="store_true", help="add the scan_df route crossover")
    ap.add_argument("--sweep-rows", type=int, default=52_000)
    args = ap.parse_args()

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from perfbench.cell_fold import ALL_KINDS, mixed_cells
    from tera_spark import client as client_mod
    from tera_spark import plans
    from tera_spark.client import Client
    from tera_spark.model import CELL_SCHEMA, CellOp, arrow_table
    from tera_spark.operators.mutation import MutationBatch
    from tera_spark.operators.scan import ScanDescriptor
    from tera_spark.operators.view import current_view, fold_route
    from tera_spark.session import get_spark

    spark = get_spark("probe_fold_construct")
    sc = spark.sparkContext
    counter = CallCounter(spark)

    @contextlib.contextmanager
    def forced(route: str):
        """Force ``scan_df``'s route past its gate."""
        saved = client_mod._LOCAL_SCAN_ROWS, plans.SCALE_GATE_BYTES
        if route == "spark":
            client_mod._LOCAL_SCAN_ROWS = -1
        else:
            client_mod._LOCAL_SCAN_ROWS = plans.SCALE_GATE_BYTES = 1 << 62
        try:
            yield
        finally:
            client_mod._LOCAL_SCAN_ROWS, plans.SCALE_GATE_BYTES = saved

    def measure(name: str, build, extra: dict | None = None) -> dict:
        calls, construct, execute, jobs, counts = [], [], [], [], set()
        for rep in range(args.reps):
            gc.collect()  # py4j frees proxies of earlier reps by round trips too
            with counter:
                t0 = time.perf_counter()
                df = build()
                construct.append(time.perf_counter() - t0)
            calls.append(counter.calls)
            group = f"probe-{name}-{rep}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            counts.add(df.count())
            execute.append(time.perf_counter() - t0)
            sc.setJobGroup("", "")
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        # the first construction of a case warms py4j's method caches:
        # report the last one's calls, and medians of the timings
        row = {
            "case": name,
            "py4j_calls": calls[-1],
            "construct_ms": round(statistics.median(construct) * 1000, 1),
            "execute_ms": round(statistics.median(execute) * 1000, 1),
            "jobs": jobs[-1],
            "count": counts.pop(),
            **(extra or {}),
        }
        assert not counts, (name, "counts differ between reps")
        print(f"| {name} | {row['py4j_calls']} | {row['construct_ms']} | "
              f"{row['execute_ms']} | {row['jobs']} |", flush=True)
        return row

    results = []
    with tempfile.TemporaryDirectory() as root:
        client = Client(spark, root)
        cat = client.catalog
        client.create_table("cells { d <maxversions=1>, c <maxversions=1> }")
        bulk = spark.range(args.rows).select(
            F.format_string("row%021d", "id").alias("row_key"),
            F.lit("d").alias("cf"),
            F.lit("q").alias("qualifier"),
            F.lit(1).cast("long").alias("ts"),
            F.lit(CellOp.PUT).alias("op"),
            F.rpad(F.col("id").cast("string"), 1000, "x").cast("binary").alias("value"),
            F.col("id").alias("seq"),
        )
        cat.append("cells", bulk, commit_seq=args.rows - 1, op_kinds=[CellOp.PUT])
        table = client.open_table("cells")
        table.apply_mutation(MutationBatch().put("row%021d" % 7, "d", "q", b"p"))
        table.increment_column_value("row%021d" % 7, "c", "n", 1)

        n = args.cells
        cat.create_table("mix { d <maxversions=2>, c }")
        for k in range(4):
            lo, hi = k * n // 4, (k + 1) * n // 4
            cat.append("mix", mixed_cells(spark, n, args.seed, lo, hi), commit_seq=hi, op_kinds=ALL_KINDS)
        cuts = {
            "merge_free": [CellOp.PUT, *CellOp.DELETES],
            "put_only": [CellOp.PUT],
            "counter": [CellOp.ADD],
        }
        for route, kinds in cuts.items():
            cat.create_table(f"{route} {{ d <maxversions=2>, c }}")
            cut = cat.read_oplog("mix").filter(F.col("op").isin(kinds)).drop("expire_ts")
            cat.append(route, cut, commit_seq=n, op_kinds=kinds)

        print("| case | py4j calls | construct ms | execute ms | jobs |")
        print("|---|---|---|---|---|")
        folds = [
            ("general", "mix"),
            ("general, no row/family marks", "cells"),
            ("merge_free", "merge_free"),
            ("put_only", "put_only"),
            ("counter", "counter"),
        ]
        for label, name in folds:
            kinds = cat._op_kinds_union(name)
            oplog, schema = cat.read_oplog(name), cat.current_schema(name)
            assert fold_route(kinds) == label.split(",")[0], (label, kinds)
            results.append(measure(
                f"fold {label}",
                lambda oplog=oplog, schema=schema, kinds=kinds: current_view(
                    oplog, schema, op_kinds=kinds),
            ))
        lo = args.rows // 3
        desc = ScanDescriptor(start="row%021d" % lo, end="row%021d" % (lo + 50))
        results.append(measure("scan_df 50 rows", lambda: table.scan_df(desc)))
        with forced("spark"):
            results.append(measure("scan_df 50 rows, Spark", lambda: table.scan_df(desc)))
        assert results[-1]["count"] == results[-2]["count"]
        results.append(measure("Catalog.view mix", lambda: cat.view("mix")))

        if args.sweep:
            print("| sweep case | py4j calls | construct ms | execute ms | jobs |")
            print("|---|---|---|---|---|")
            group, n = 1000, args.sweep_rows
            for width in (16, 1000):
                name = f"sweep{width}"
                client.create_table(f"{name} {{ d <maxversions=1> }}")
                rows = [("row%021d" % i, "d", "q", 1, CellOp.PUT,
                         str(i).ljust(width, "x").encode(), i) for i in range(n)]
                quarter = -(-n // 4 // group) * group
                for f in range(4):  # a bulk load's file per core, by key range
                    pq.write_table(
                        arrow_table(rows[f * quarter:(f + 1) * quarter], CELL_SCHEMA),
                        f"{cat.oplog_path(name)}/part-{f:05d}.parquet", row_group_size=group,
                    )
                del rows
                swept = client.open_table(name)
                for span in (1000, 4000, 8000, 16000, 50000):
                    lo = (n - span) // 2 // group * group
                    d = ScanDescriptor(start="row%021d" % lo, end="row%021d" % (lo + span))
                    routed, size = swept._seeker.range_size(d.start, d.end)
                    facts = {"routed_rows": routed, "routed_mb": round(size / 2**20, 1)}
                    got = []
                    for kind in ("local", "spark"):
                        with forced(kind):
                            got.append(measure(
                                f"{width} B values, {span} rows ({routed} routed, "
                                f"{facts['routed_mb']} MB), {kind}",
                                lambda t=swept, d=d: t.scan_df(d), facts,
                            ))
                    assert got[0]["count"] == got[1]["count"] == span, got
                    results.extend(got)
    print(json.dumps({"reps": args.reps, "rows": args.rows, "cells": args.cells, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
