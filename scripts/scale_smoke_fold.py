#!/usr/bin/env python
"""Cell-engine fold at volume (round-6 task): a >= 50M-cell op-log
with a MIXED op history (puts, all four delete granularities, BE/LE
counters, appends, put-if-absent), plus PUT-only and counter-only
logs at the same scale — measuring the general fold, both
metadata-routed fast folds against their general twins (value-level
parity via checksum), and major compaction with the compact == view
pin at that scale. Results land in SCALE.md.

Run standalone: `python scripts/scale_smoke_fold.py [n_cells]`
(default 50_000_000; use 2_000_000 for a quick shape check).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000


def _checksum(df):
    """Order-independent value-level fingerprint of a fold result."""
    from pyspark.sql import functions as F

    h = F.xxhash64("row_key", "cf", "qualifier", "ts", "value")
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("hs"),  # exact, ANSI-overflow-proof
        F.expr("bit_xor(xxhash64(row_key, cf, qualifier, ts, value))").alias("hx"),
    ).collect()[0]
    return int(row.n), int(row.hs), int(row.hx)


def _mixed_cells(spark, n: int):
    """Distributed op-log generation, no driver loops: ~64 versions
    per (row, qualifier) slot, op mix by position — 70% PUT, 10%
    APPEND, 5% PUT_IFABSENT, 10% counters (BE ADD + LE ADDINT64 on a
    dedicated counter row space so merge semantics stay well-typed),
    5% deletes across all four granularities."""
    rows = max(n // 64, 1)
    return spark.range(0, n, 1, 64).selectExpr(
        f"concat('r', lpad(cast(id % {rows} as string), 9, '0')) as row_key",
        "'d' as cf",
        "concat('q', cast(id % 3 as string)) as qualifier",
        "cast(1 + (id % 7) as long) as ts",
        """cast(CASE
             WHEN id % 20 < 14 THEN 5                   -- PUT
             WHEN id % 20 < 16 THEN 9                   -- APPEND
             WHEN id % 20 = 16 THEN 8                   -- PUT_IFABSENT
             WHEN id % 20 = 17 THEN CASE WHEN id % 2 = 0 THEN 7 ELSE 10 END
             WHEN id % 20 = 18 THEN CASE id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                                               WHEN 2 THEN 3 ELSE 4 END
             ELSE 5 END as int) as op""",
        """CASE
             WHEN id % 20 = 17 AND id % 2 = 0
               THEN element_at(array(X'0000000000000001', X'0000000000000002',
                                     X'0000000000000003'), cast(id % 3 + 1 as int))
             WHEN id % 20 = 17
               THEN element_at(array(X'0100000000000000', X'0200000000000000',
                                     X'0300000000000000'), cast(id % 3 + 1 as int))
             WHEN id % 20 = 18 THEN X''
             ELSE cast(concat('v', cast(id % 97 as string)) as binary)
           END as value""",
        "cast(id + 1 as long) as seq",
    )


def _put_cells(spark, n: int):
    rows = max(n // 16, 1)
    return spark.range(0, n, 1, 64).selectExpr(
        f"concat('p', lpad(cast(id % {rows} as string), 9, '0')) as row_key",
        "'d' as cf",
        "concat('q', cast(id % 2 as string)) as qualifier",
        "cast(1 + (id % 11) as long) as ts",
        "cast(5 as int) as op",
        "cast(concat('v', cast(id % 97 as string)) as binary) as value",
        "cast(id + 1 as long) as seq",
    )


def _counter_cells(spark, n: int):
    rows = max(n // 64, 1)
    return spark.range(0, n, 1, 64).selectExpr(
        f"concat('c', lpad(cast(id % {rows} as string), 9, '0')) as row_key",
        "'c' as cf",
        "'hits' as qualifier",
        "cast(1 + (id % 5) as long) as ts",
        "cast(7 as int) as op",  # BE ADD
        """element_at(array(X'0000000000000001', X'0000000000000002',
                            X'0000000000000003', X'0000000000000004'),
                      cast(id % 4 + 1 as int)) as value""",
        "cast(id + 1 as long) as seq",
    )


def main() -> None:
    import tempfile

    from tera_spark.session import get_spark
    from tera_spark.catalog import Catalog
    from tera_spark.operators.view import current_view, fold_route

    spark = get_spark("fold_smoke")
    out: dict = {"metric": "fold_smoke", "n_cells": N}

    with tempfile.TemporaryDirectory(prefix="fold_smoke_") as root:
        cat = Catalog(spark, root, writer_id="smoke")

        # ---- mixed history: general fold + compact ≡ view at volume
        cat.create_table("mix { d <maxversions=2>, c }")
        t0 = time.monotonic()
        cat.append("mix", _mixed_cells(spark, N), commit_seq=N,
                   op_kinds=[1, 2, 3, 4, 5, 7, 8, 9, 10])
        gen_s = time.monotonic() - t0
        t0 = time.monotonic()
        c_vis = _checksum(cat.view("mix"))
        fold_s = time.monotonic() - t0
        t0 = time.monotonic()
        cat.compact_inplace("mix")
        compact_s = time.monotonic() - t0
        c_cmp = _checksum(cat.view("mix"))
        out["mixed"] = {
            "write_s": round(gen_s, 1),
            "general_fold_s": round(fold_s, 1),
            "fold_cells_per_s": round(N / fold_s),
            "visible_cells": c_vis[0],
            "compact_s": round(compact_s, 1),
            "compact_equals_view": c_vis == c_cmp,
        }
        print(json.dumps({"stage": "mixed", **out["mixed"]}), flush=True)

        # ---- PUT-only: metadata-routed fast fold vs forced general
        cat.create_table("puts { d <maxversions=2> }")
        cat.append("puts", _put_cells(spark, N), commit_seq=N, op_kinds=[5])
        assert fold_route(cat._op_kinds_union("puts")) == "put_only"
        t0 = time.monotonic()
        c_f = _checksum(cat.view("puts"))  # auto: put_only fast fold
        fast_s = time.monotonic() - t0
        sch = cat.get_schema("puts")
        t0 = time.monotonic()
        c_g = _checksum(current_view(cat.read_oplog("puts"), sch))
        gen2_s = time.monotonic() - t0
        out["put_only"] = {
            "fast_fold_s": round(fast_s, 1),
            "general_fold_s": round(gen2_s, 1),
            "speedup": round(gen2_s / fast_s, 2),
            "fast_equals_general": c_f == c_g,
            "visible_cells": c_f[0],
        }
        print(json.dumps({"stage": "put_only", **out["put_only"]}), flush=True)

        # ---- counter-only: stacked-agg SUM fold vs forced general
        cat.create_table("ctr { c }")
        cat.append("ctr", _counter_cells(spark, N), commit_seq=N, op_kinds=[7])
        assert fold_route(cat._op_kinds_union("ctr")) == "counter"
        t0 = time.monotonic()
        c_cf = _checksum(cat.view("ctr"))
        cfast_s = time.monotonic() - t0
        sch = cat.get_schema("ctr")
        t0 = time.monotonic()
        c_cg = _checksum(current_view(cat.read_oplog("ctr"), sch))
        cgen_s = time.monotonic() - t0
        out["counter_only"] = {
            "fast_fold_s": round(cfast_s, 1),
            "general_fold_s": round(cgen_s, 1),
            "speedup": round(cgen_s / cfast_s, 2),
            "fast_equals_general": c_cf == c_cg,
            "visible_cells": c_cf[0],
        }
        print(json.dumps({"stage": "counter_only", **out["counter_only"]}), flush=True)

    ok = (
        out["mixed"]["compact_equals_view"]
        and out["put_only"]["fast_equals_general"]
        and out["counter_only"]["fast_equals_general"]
    )
    out["parity_ok"] = ok
    print(json.dumps(out))
    spark.stop()
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
