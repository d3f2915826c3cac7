"""The fold half of ``cells``: the merge-on-read fold over a mixed op
history.

Set-up writes a seeded history of puts, all four delete granularities,
both counter kinds, appends and put-if-absent through
``Catalog.append`` in several commits (the shape of
scripts/scale_smoke_fold.py), plus a put-only table. Every pass folds
the mixed table (``Catalog.view`` plus a checksum) and the put-only
table (its metadata-routed fast fold). After the passes the mixed
table is compacted in place and folded again.

It is the engine's hot path and bound by the fold's shuffle; it
bypasses the seek path and the per-operation job floor.

Checks: every fold of a table gives one checksum; on a seeded
sample of rows the fold equals the Python fold of the seek path
(``seek.fold_row``) over the raw op-log; the compacted table's
checksum equals the view's.
"""

from __future__ import annotations

import random
import re
import time
from pathlib import Path

from pyspark.sql import functions as F

from perfbench import harness
from tera_spark.catalog import Catalog
from tera_spark.operators.seek import fold_row

COMMITS = 4
SAMPLE_ROWS = 200
ALL_KINDS = [1, 2, 3, 4, 5, 7, 8, 9, 10]
MIX, PUTS = "mix", "puts"


def mixed_cells(spark, n: int, seed: int, lo: int, hi: int):
    """Cells with ids [lo, hi) of an n-cell history: ~64 versions per
    (row, qualifier) slot; 70% PUT, 10% APPEND, 5% PUT_IFABSENT, 5%
    counters, 5% deletes of all four granularities, 5% more PUTs. The
    counters (BE ADD and LE ADDINT64) have qualifiers of their own, so
    every merge is well-typed. The seed salts rows, slots and op
    kinds."""
    rows = max(n // 64, 1)
    h = f"xxhash64(id, {seed})"
    counter = f"pmod(shiftright({h}, 40), 20) = 17"
    return spark.range(lo, hi, 1, 8).selectExpr(
        f"concat('r', lpad(cast(pmod({h}, {rows}) as string), 9, '0')) as row_key",
        f"CASE WHEN {counter} THEN 'c' ELSE 'd' END as cf",
        f"""CASE WHEN {counter} THEN CASE WHEN id % 2 = 0 THEN 'be' ELSE 'le' END
             ELSE concat('q', cast(pmod(shiftright({h}, 20), 3) as string)) END as qualifier""",
        f"cast(1 + pmod(shiftright({h}, 30), 7) as long) as ts",
        f"""cast(CASE
             WHEN pmod(shiftright({h}, 40), 20) < 14 THEN 5
             WHEN pmod(shiftright({h}, 40), 20) < 16 THEN 9
             WHEN pmod(shiftright({h}, 40), 20) = 16 THEN 8
             WHEN pmod(shiftright({h}, 40), 20) = 17 THEN CASE WHEN id % 2 = 0 THEN 7 ELSE 10 END
             WHEN pmod(shiftright({h}, 40), 20) = 18 THEN 1 + id % 4
             ELSE 5 END as int) as op""",
        f"""CASE
             WHEN pmod(shiftright({h}, 40), 20) = 17 AND id % 2 = 0
               THEN element_at(array(X'0000000000000001', X'0000000000000002',
                                     X'0000000000000003'), cast(id % 3 + 1 as int))
             WHEN pmod(shiftright({h}, 40), 20) = 17
               THEN element_at(array(X'0100000000000000', X'0200000000000000',
                                     X'0300000000000000'), cast(id % 3 + 1 as int))
             WHEN pmod(shiftright({h}, 40), 20) = 18 THEN X''
             ELSE cast(concat('v', cast(id % 97 as string)) as binary)
           END as value""",
        "id + 1 as seq",
    )


def put_cells(spark, n: int, seed: int):
    rows = max(n // 16, 1)
    h = f"xxhash64(id, {seed})"
    return spark.range(0, n, 1, 8).selectExpr(
        f"concat('p', lpad(cast(pmod({h}, {rows}) as string), 9, '0')) as row_key",
        "'d' as cf",
        f"concat('q', cast(pmod(shiftright({h}, 20), 2) as string)) as qualifier",
        f"cast(1 + pmod(shiftright({h}, 30), 11) as long) as ts",
        "5 as op",
        "cast(concat('v', cast(id % 97 as string)) as binary) as value",
        "id + 1 as seq",
    )


def checksum(df) -> tuple:
    """Order-independent value-level fingerprint of a fold, plus the
    visible cells' bytes."""
    h = F.xxhash64("row_key", "cf", "qualifier", "ts", "value")
    size = (F.octet_length("row_key") + F.octet_length("cf") + F.octet_length("qualifier")
            + F.lit(8) + F.coalesce(F.octet_length("value"), F.lit(0)))
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("hs"),
        F.sum(size).alias("bytes"),
    ).collect()[0]
    return int(row["n"]), int(row["hs"] or 0), int(row["bytes"] or 0)


class Folds:
    """Set-up on construction (``setup_s``, of which ``write_s`` is the
    mixed history); ``one_pass`` folds both tables and records each
    fold's latency in ``lat`` when ``record`` is set; ``finish`` runs
    the reference checks and the compaction."""

    def __init__(self, session, tracer, args, root: Path, out: harness.Outcome) -> None:
        self.spark, self.tracer, self.out, self.seed = session.spark, tracer, out, args.seed
        self.n = n = 20_000 if args.tiny else 60_000
        self.cat = cat = Catalog(self.spark, str(root), writer_id="perfbench")
        tracer.active = bool(args.trace)  # time the bulk appends of a traced run
        t0 = time.perf_counter()
        cat.create_table(f"{MIX} {{ d <maxversions=2>, c }}")
        for k in range(COMMITS):
            lo, hi = k * n // COMMITS, (k + 1) * n // COMMITS
            with tracer.span("catalog.bulk_append"):
                cat.append(MIX, mixed_cells(self.spark, n, self.seed, lo, hi), commit_seq=hi, op_kinds=ALL_KINDS)
        self.write_s = time.perf_counter() - t0
        cat.create_table(f"{PUTS} {{ d <maxversions=2> }}")
        cat.append(PUTS, put_cells(self.spark, n, self.seed), commit_seq=n, op_kinds=[5])
        self.setup_s = time.perf_counter() - t0
        tracer.active = False
        self.sums: dict[str, set] = {}
        self.lat: dict[str, list[float]] = {"fold_mixed": [], "fold_put_only": []}
        self.after: dict[str, float] = {}

    def _oplog_bytes(self) -> int:
        return sum(f.stat().st_size for f in Path(self.cat.oplog_path(MIX)).glob("part-*.parquet"))

    def _fold(self, kind: str, name: str, construct_span: str, execute_span: str, record: bool) -> float:
        with self.out.op(f"{kind} {name}"):
            t0 = time.perf_counter()
            with self.tracer.span(construct_span):
                view = self.cat.view(name)
            with self.tracer.span(execute_span):
                c = checksum(view)
            wall = time.perf_counter() - t0
            if record:
                self.lat[kind].append(wall)
            self.sums.setdefault(kind, set()).add(c)
            return wall

    def one_pass(self, record: bool) -> None:
        self._fold("fold_mixed", MIX, "catalog.view_construct", "view.execute", record)
        self._fold("fold_put_only", PUTS, "catalog.view_construct.put_only", "view.put_only_execute", record)

    def _reference_check(self, name: str, prefix: str, key_space: int) -> None:
        """The fold against the Python fold of the seek path, on sampled rows."""
        with self.out.op(f"reference check {name}"):
            sample = [f"{prefix}{i:09d}" for i in random.Random(self.seed).sample(range(key_space), SAMPLE_ROWS)]
            raw: dict[str, list] = {}
            for r in self.cat.read_oplog(name).where(F.col("row_key").isin(sample)).collect():
                raw.setdefault(r["row_key"], []).append(
                    (r["row_key"], r["cf"], r["qualifier"], r["ts"], r["op"],
                     bytes(r["value"]) if r["value"] is not None else None, r["seq"]))
            now = int(time.time() * 1_000_000)
            schema = self.cat.get_schema(name)
            want = sorted(c for rows in raw.values() for c in fold_row(rows, schema, now_us=now))
            got = sorted((r["row_key"], r["cf"], r["qualifier"], r["ts"], bytes(r["value"]))
                         for r in self.cat.view(name).where(F.col("row_key").isin(sample)).collect())
            harness.require(len(raw) > SAMPLE_ROWS // 2 and got == want,
                            f"{name}: fold of {len(raw)} sampled rows differs from fold_row")

    def finish(self) -> None:
        self._reference_check(MIX, "r", self.n // 64)
        self._reference_check(PUTS, "p", self.n // 16)
        with self.out.op("one checksum per table kind"):
            harness.require(len(self.sums.get("fold_mixed", ())) == 1
                            and len(self.sums.get("fold_put_only", ())) == 1,
                            f"folds disagree: {self.sums}")

        # compaction, then the fold of the compacted table
        self.bytes_before = self._oplog_bytes()
        plan = self.cat.view(MIX)._jdf.queryExecution().executedPlan().toString()
        self.exchanges = len(re.findall(r"(?<![A-Za-z])Exchange\s", plan))
        with self.out.op(f"compact {MIX}"):
            t0 = time.perf_counter()
            self.cat.compact_inplace(MIX)
            self.after["compact_s"] = time.perf_counter() - t0
        self.bytes_after = self._oplog_bytes()
        self.after["fold_compacted_s"] = self._fold(
            "fold_compacted", MIX, "catalog.view_construct.compacted", "view.execute.compacted", False)
        with self.out.op("compact == view"):
            harness.require(self.sums.get("fold_compacted") == self.sums.get("fold_mixed"),
                            f"compacted {self.sums.get('fold_compacted')} != view {self.sums.get('fold_mixed')}")

    def figures(self) -> dict[str, float]:
        return {
            "write_s": self.write_s,
            "fold_mixed_s": harness.median(self.lat["fold_mixed"]),
            "fold_put_only_s": harness.median(self.lat["fold_put_only"]),
            **self.after,
        }

    def layers(self, spans: list[dict]) -> dict[str, float]:
        """Per-layer figures of the traced passes' ``spans`` and of the
        set-up and compaction."""
        tracer, layers = self.tracer, {}
        layers["catalog.bulk_append_s"] = harness.median(tracer.durations("catalog.bulk_append"))
        layers["catalog.view_construct_s"] = harness.median(tracer.durations("catalog.view_construct", spans))
        layers["view.execute_s"] = harness.median(tracer.durations("view.execute", spans))
        layers["view.put_only_execute_s"] = harness.median(tracer.durations("view.put_only_execute", spans))
        fold_spans = [s for s in spans if s["name"] == "view.execute"]
        layers["spark.spill_bytes.fold"] = tracer.spark_total(fold_spans, "spill_bytes") / max(len(fold_spans), 1)
        layers["view.exchanges"] = self.exchanges
        visible = next(iter(self.sums["fold_mixed"]))[2]
        user_bytes = mixed_cells(self.spark, self.n, self.seed, 0, self.n).agg(F.sum(
            F.octet_length("row_key") + F.octet_length("cf") + F.octet_length("qualifier")
            + F.lit(8) + F.octet_length("value"))).collect()[0][0]
        layers["catalog.write_amplification"] = self.bytes_before / user_bytes
        layers["catalog.space_amplification"] = self.bytes_before / visible
        layers["catalog.space_amplification.compacted"] = self.bytes_after / visible
        layers["compact.rewritten_bytes"] = self.bytes_after
        return layers
