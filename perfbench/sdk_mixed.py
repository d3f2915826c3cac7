"""The SDK half of ``cells``: one client on one table, closed loop.

Set-up creates the table with ``Client`` and bulk-loads it in tera's
shape (24-byte keys, 1000-byte values; also YCSB's default record, ten
100-byte fields). Every pass then runs a fixed mix, in seeded order, on
zipfian keys, taken from the YCSB core workloads (Cooper et al.,
"Benchmarking Cloud Serving Systems with YCSB", SoCC 2010), whose
adapter the reference ships as benchmark/ycsb4tera.md:

- reads to writes 95:5 and zipfian keys with constant 0.99, as in
  workload B ("read mostly"; 0.99 is YCSB's ``ZIPFIAN_CONSTANT``).
  The keys are ranked over a seeded permutation, as YCSB's scrambled
  zipfian spreads the hot keys over the key space. A read is a seek
  ``Table.get``. The write share is split evenly over tera's three
  write verbs: a one-cell ``apply_mutation`` put (YCSB's update writes
  one field), ``increment_column_value`` and a ``check_and_apply``
  that lands. The last two are workload F's read-modify-write, done in
  the engine and by compare-and-set.
- one short range scan, as in workload E: a bounded
  ``scan_df(...).count()`` over a uniform 1..100 rows (YCSB's
  ``maxscanlength``).

Writes run beside reads and each commit adds op-log files that every
later seek routes across, so it stresses the commit path and the seek
path. Each write pays the Spark job floor.

A shadow model in the benchmark checks every answer: a get returns the
last value written and the counter's sum, a CAS lands exactly when its
expected value is the current one, a scan counts the cells in range.
"""

from __future__ import annotations

import bisect
import itertools
import random
import time
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import tera_spark.client as client_mod
from perfbench import harness
from tera_spark.catalog import Catalog
from tera_spark.client import Client
from tera_spark.model import CellOp
from tera_spark.operators.mutation import MutationBatch
from tera_spark.operators.scan import ScanDescriptor
from tera_spark.operators.seek import Seeker

VALUE_BYTES = 1000
MAX_SCAN_ROWS = 100
ZIPF_S = 0.99
# one pass: 57 gets to 3 writes (95:5), one of each write verb, and
# one scan. A CAS that must not land runs in the warm-up only: it is
# checked on every run but not timed, as it is no write.
MIX = ["get"] * 57 + ["put", "incr", "cas", "scan"]
WARMUP = ["get"] * 5 + ["put", "incr", "cas", "cas_miss", "scan"]
TABLE = "t"


def _key(i: int) -> str:
    return f"row{i:021d}"  # 24 bytes


def _be(v: int) -> bytes:
    return (v & ((1 << 64) - 1)).to_bytes(8, "big")


class Traffic:
    """Set-up on construction (``setup_s``); ``one_pass`` runs one
    round of the mix and records each operation's latency in ``lat``
    when ``record`` is set."""

    def __init__(self, session, tracer, args, root: Path, out: harness.Outcome) -> None:
        self.tracer, self.out, self.seed = tracer, out, args.seed
        self.n_rows = 500 if args.tiny else 10_000
        spark = session.spark
        self.client = Client(spark, str(root))

        t0 = time.perf_counter()
        self.client.create_table(f"{TABLE} {{ d <maxversions=1>, c <maxversions=1> }}")
        cells = spark.range(self.n_rows).select(
            F.format_string("row%021d", "id").alias("row_key"),
            F.lit("d").alias("cf"),
            F.lit("q").alias("qualifier"),
            F.lit(1).cast("long").alias("ts"),
            F.lit(CellOp.PUT).alias("op"),
            F.rpad(F.concat(F.col("id").cast("string"), F.lit(f":{self.seed}")), VALUE_BYTES, "x")
            .cast("binary").alias("value"),
            F.col("id").alias("seq"),
        )
        self.client.catalog.append(TABLE, cells, commit_seq=self.n_rows - 1, op_kinds=[CellOp.PUT])
        self.table = self.client.open_table(TABLE)
        self.setup_s = time.perf_counter() - t0

        # zipfian ranks over a seeded permutation of the keys
        self.rng = random.Random(self.seed)
        self.perm = list(range(self.n_rows))
        self.rng.shuffle(self.perm)
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(self.n_rows)))
        self.values: dict[int, bytes] = {}
        self.counters: dict[int, int] = {}
        self.lat: dict[str, list[float]] = {k: [] for k in set(MIX)}
        self.op_spans: dict[str, list[dict]] = {k: [] for k in set(MIX)}  # traced passes only
        self.seq = itertools.count()

    def patch(self) -> None:
        t = self.tracer
        t.patch(MutationBatch, "to_df", "mutation.to_df")
        t.patch(Catalog, "append", "catalog.append")
        t.patch(Catalog, "read_oplog", "catalog.read_oplog")
        t.patch(client_mod, "check_and_apply", "mutation.check_and_apply")
        t.patch(Seeker, "multi_get", "seek.multi_get")

    def _initial(self, i: int) -> bytes:
        return f"{i}:{self.seed}".ljust(VALUE_BYTES, "x").encode()

    def _zipf_key(self) -> int:
        return self.perm[bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])]

    def _get(self) -> None:
        i = self._zipf_key()
        got = self.table.get(_key(i), seek=True)
        have = {cf: {q: v[0][1] for q, v in quals.items()} for cf, quals in got.items()}
        want = {"d": {"q": self.values.get(i) or self._initial(i)}}
        if i in self.counters:
            want["c"] = {"n": _be(self.counters[i])}
        harness.require(have == want, f"get {_key(i)} returned a stale or wrong row")

    def _put(self, n: int) -> None:
        i = self._zipf_key()
        new = f"{self.seed}:{n}:{i}".ljust(VALUE_BYTES, "y").encode()
        self.table.apply_mutation(MutationBatch().put(_key(i), "d", "q", new))
        self.values[i] = new

    def _incr(self, n: int) -> None:
        i, delta = self._zipf_key(), 1 + n % 9
        self.table.increment_column_value(_key(i), "c", "n", delta)
        self.counters[i] = self.counters.get(i, 0) + delta

    def _cas(self, n: int, should_land: bool) -> None:
        i = self._zipf_key()
        current = self.values.get(i) or self._initial(i)
        expected = current if should_land else b"not-the-value"
        new = f"cas:{self.seed}:{n}".ljust(VALUE_BYTES, "z").encode()
        landed = self.table.check_and_apply(
            _key(i), "d", "q", expected, MutationBatch().put(_key(i), "d", "q", new)
        )
        harness.require(landed == should_land, f"CAS on {_key(i)} landed={landed}, model says {should_land}")
        if landed:
            self.values[i] = new

    def _scan(self) -> None:
        rows = self.rng.randint(1, MAX_SCAN_ROWS)
        lo = self.rng.randrange(0, self.n_rows - rows)
        with self.tracer.span("scan.construct"):
            df = self.table.scan_df(ScanDescriptor(start=_key(lo), end=_key(lo + rows)))
        with self.tracer.span("scan.execute"):
            n = df.count()
        want = rows + sum(1 for i in self.counters if lo <= i < lo + rows)
        harness.require(n == want, f"scan [{lo}, {lo + rows}) counted {n}, model says {want}")

    def one_pass(self, record: bool) -> None:
        mix = MIX if record else WARMUP
        for kind in self.rng.sample(mix, len(mix)):
            n = next(self.seq)
            with self.out.op(f"{kind} #{n}"), self.tracer.request(n), self.tracer.span(f"op.{kind}") as span:
                t0 = time.perf_counter()
                if kind == "get":
                    self._get()
                elif kind == "put":
                    self._put(n)
                elif kind == "incr":
                    self._incr(n)
                elif kind in ("cas", "cas_miss"):
                    self._cas(n, kind == "cas")
                else:
                    self._scan()
                if record:
                    self.lat[kind].append(time.perf_counter() - t0)
                if span is not None:
                    self.op_spans[kind].append(span)

    def figures(self, run_s: float) -> dict[str, float]:
        ms = {k: [x * 1000 for x in v] for k, v in self.lat.items()}
        return {
            "ops_per_s": sum(len(v) for v in ms.values()) / run_s,
            "get_p50_ms": harness.median(ms["get"]),
            "get_p99_ms": harness.pct(ms["get"], 0.99),
            "put_p50_ms": harness.median(ms["put"]),
            "put_p90_ms": harness.pct(ms["put"], 0.90),
            "incr_p50_ms": harness.median(ms["incr"]),
            "cas_p50_ms": harness.median(ms["cas"]),
            "scan_p50_ms": harness.median(ms["scan"]),
        }

    def layers(self, spans: list[dict]) -> dict[str, float]:
        """Per-layer figures of the traced passes' ``spans``."""
        tracer, layers = self.tracer, {}
        for name in ("mutation.to_df", "catalog.append", "catalog.read_oplog",
                     "mutation.check_and_apply", "seek.multi_get", "scan.construct", "scan.execute"):
            layers[f"{name}_s"] = harness.median(tracer.durations(name, spans))
        for kind in ("put", "cas", "scan"):
            recs = self.op_spans[kind]
            layers[f"spark.jobs_per_{kind}"] = tracer.spark_total(recs, "jobs") / max(len(recs), 1)
        cat = self.client.catalog
        files = sorted(Path(cat.oplog_path(TABLE)).glob("part-*.parquet"))
        layers["catalog.commit_records"] = len(list((cat.root / TABLE / "commits").glob("*.json")))
        layers["catalog.oplog_files"] = len(files)
        layers["seek.row_groups"] = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
        return layers
