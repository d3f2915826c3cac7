#!/usr/bin/env python
"""OLTP-shaped microbench mirroring the reference's only published
benchmark (BASELINE.md / doc/en/performance.md): async-write
throughput, random point reads, and ordered sequential scan — replayed
on this engine's cell model so the two systems are compared on the
same three verbs they both implement.

Workload shape follows the reference config (24-byte keys, 1000-byte
values, maxversions=1); row count is scaled by TERA_OLTP_ROWS
(default 300k vs. the reference's 300M — same per-row shape, 1/1000
volume; throughputs are per-second rates so they compare directly).

Notes on the mapping (this is a batch analytics engine, not a
latency-serving store — see SCALE.md "OLTP verbs"):
- write  = distributed generation of an op-log batch + range-sorted
  Parquet append (the engine's group commit). Reported as MB/s of
  value payload, matching the reference's 9 MB/s metric.
- random read = a batch of K point gets resolved as ONE broadcast
  semi-join + current-view fold (Table::Get(vector<RowReader*>)).
  Reported as keys/s; tera reports 32k QPS from many concurrent
  clients — the batched join is how the same demand shape lands on
  Spark.
- sequential read = full ordered scan folding the op-log to visible
  cells and touching every value byte. Reported as MB/s, matching
  the reference's 20 MB/s metric.

Prints ONE JSON line; run standalone (never concurrently with bench.py
— box contention skews both).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from tera_spark.model import CELL_SCHEMA, CellOp
from tera_spark.operators.scan import ScanDescriptor, scan
from tera_spark.operators.view import current_view
from tera_spark.session import get_spark

N_ROWS = int(os.environ.get("TERA_OLTP_ROWS", "300000"))
N_GETS = int(os.environ.get("TERA_OLTP_GETS", "10000"))
# "uniform" = evenly spaced keys; "zipf" = YCSB-style skewed access
# (the reference ships a YCSB adapter with zipfian knobs,
# benchmark/ycsb4tera.md) — ranks drawn as floor(N * u^4), so ~76% of
# requests hit the hottest 50% of the keyspace and rank 0 is hot.
DIST = os.environ.get("TERA_OLTP_DIST", "uniform")
VALUE_BYTES = 1000


def main() -> None:
    spark = get_spark("bench_oltp")
    tmp = tempfile.mkdtemp(prefix="tera_oltp_")
    path = os.path.join(tmp, "oplog")
    try:
        # ---- write: generate + range-sorted group commit ------------
        cells = spark.range(N_ROWS).select(
            F.format_string("row%016d", F.col("id")).alias("row_key"),
            F.lit("cf0").alias("cf"),
            F.lit("q").alias("qualifier"),
            (F.lit(1_700_000_000_000_000) + F.col("id")).alias("ts"),
            F.lit(CellOp.PUT).cast("int").alias("op"),
            F.rpad(F.conv(F.col("id").cast("string"), 10, 16), VALUE_BYTES, "x")
            .cast("binary")
            .alias("value"),
            F.col("id").alias("seq"),
        )
        t0 = time.monotonic()
        (
            cells.repartitionByRange(32, "row_key")
            .sortWithinPartitions("row_key", "cf", "qualifier", F.desc("ts"))
            # point-read-friendly row groups: the LG blocksize knob
            # (table_schema.proto:21, reference default 4 KB blocks) —
            # a seek reads one row group, so group size bounds read
            # amplification; 2 MB keeps scan throughput intact.
            .write.mode("overwrite")
            .option("parquet.block.size", str(2 * 1024 * 1024))
            .parquet(path)
        )
        w_s = time.monotonic() - t0
        write_mb_s = N_ROWS * VALUE_BYTES / w_s / 1e6

        oplog = spark.read.schema(CELL_SCHEMA).parquet(path)

        # ---- random read: K point gets as one broadcast semi-join ---
        if DIST == "zipf":
            # deterministic skewed ranks: u = hash-uniform in [0,1),
            # rank = floor(N * u^4) concentrates mass on low ranks (the
            # zipfian-ish shape YCSB drives); duplicate hot keys
            # collapse in the distinct — the engine serves a hot-key
            # storm as ONE lookup per distinct key, which is precisely
            # why the batched path absorbs skew that would hotspot a
            # per-RPC server (no single tablet takes the storm).
            u = (F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(1_000_003)).cast("double")
                 / F.lit(1_000_003.0))
            rank = F.floor(F.pow(u, F.lit(4.0)) * N_ROWS).cast("long")
            keys = (
                spark.range(N_GETS)
                .select(F.format_string("row%016d", rank).alias("row_key"))
                .distinct()
            )
        else:
            step = max(N_ROWS // N_GETS, 1)
            keys = spark.range(0, N_ROWS, step).select(
                F.format_string("row%016d", F.col("id")).alias("row_key")
            )
        t0 = time.monotonic()
        # PUT-only: the workload is plain Puts at maxversions=1 — the
        # reference's own benchmark schema — so the fold is the
        # map-side-partial max_by fast path (what the catalog would
        # derive from this table's commit records)
        got = current_view(
            oplog.join(F.broadcast(keys), "row_key", "left_semi"), None, op_kinds={CellOp.PUT}
        ).count()
        g_s = time.monotonic() - t0
        point_keys_s = got / g_s

        # ---- random read, seek path (LowLevelSeek analog) -----------
        # Driver-side footer-routed row-group reads + Python fold — no
        # Spark job. This is the latency-serving shape: tera's 32k QPS
        # measures many concurrent point gets; here one client thread
        # resolves a batch via row-group-grouped reads.
        from tera_spark.oplog_index import BlockCache
        from tera_spark.operators.seek import Seeker

        key_list = [r.row_key for r in keys.limit(N_GETS).collect()]
        seeker = Seeker(path=path)
        seeker._route(key_list[:1])  # warm the footer meta cache
        t0 = time.monotonic()
        hit = seeker.multi_get(key_list)
        seek_s = time.monotonic() - t0
        seek_keys_s = len(hit) / seek_s
        # single-get latency: cold = row-group read per get; hot = the
        # block-cache-resident working set (tera's 2 ms random read is
        # measured against its flash LG + block cache)
        lat_n = 200
        t0 = time.monotonic()
        for k in key_list[:lat_n]:
            seeker.get(k)
        seek_get_hot_ms = (time.monotonic() - t0) / lat_n * 1000
        cold = Seeker(path=path)
        cold._route(key_list[:1])
        t0 = time.monotonic()
        for k in key_list[:lat_n]:
            cold._cache = BlockCache()  # every get decodes its row group
            cold.get(k)
        seek_get_ms = (time.monotonic() - t0) / lat_n * 1000

        # ---- sequential read: ordered full scan, touch every byte ---
        # Per-value content verification rides the same pass — the
        # tera_mark --verify analog (benchmark/tera_mark.md:44-47
        # checks md5 per value; here the expected payload is recomputed
        # from the key and compared whole).
        t0 = time.monotonic()
        visible = scan(oplog, None, ScanDescriptor(), op_kinds={CellOp.PUT})
        rid = F.substring("row_key", 4, 16).cast("long")
        expected = F.rpad(F.conv(rid.cast("string"), 10, 16), VALUE_BYTES, "x").cast(
            "binary"
        )
        agg = visible.agg(
            F.sum(F.octet_length("value")).alias("b"),
            F.sum(F.when(F.col("value") != expected, 1).otherwise(0)).alias("bad"),
        ).collect()[0]
        n_bytes, n_bad = agg["b"], agg["bad"]
        s_s = time.monotonic() - t0
        scan_mb_s = n_bytes / s_s / 1e6

        print(
            json.dumps(
                {
                    "metric": "oltp_microbench",
                    "unit": "mixed",
                    "key_dist": DIST,
                    "rows": N_ROWS,
                    "value_bytes": VALUE_BYTES,
                    "write_mb_s": round(write_mb_s, 2),
                    "write_rows_s": round(N_ROWS / w_s),
                    "point_gets": got,
                    "point_keys_s": round(point_keys_s),
                    "seek_keys_s": round(seek_keys_s),
                    "seek_get_ms": round(seek_get_ms, 2),
                    "seek_get_hot_ms": round(seek_get_hot_ms, 2),
                    "scan_mb_s": round(scan_mb_s, 2),
                    "verify_failures": n_bad,
                    "baseline_reference": {
                        "write_mb_s": 9.0,
                        "random_read_qps": 32000,
                        "scan_mb_s": 20.0,
                    },
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
