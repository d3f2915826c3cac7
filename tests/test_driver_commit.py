"""Driver-written commits: a pyarrow table handed to ``Catalog.append``
is written from the driver (one ``pq.write_table`` file, no Spark job)
and must be indistinguishable from the same rows appended as a
DataFrame; the SDK's writes and its seek-backed CheckAndApply start no
Spark job at all."""

from __future__ import annotations

import os
import time
from pathlib import Path

import pytest

from tera_spark.catalog import Catalog
from tera_spark.client import Client
from tera_spark.functions.keys import py_hash_prefix_key
from tera_spark.model import KV_OPLOG_SCHEMA, CellOp, arrow_table
from tera_spark.operators.mutation import MutationBatch
from tera_spark.operators.seek import Seeker
from tera_spark.operators.view import fold_route

from tests.test_seek import spark_get_map

NOW = 1_700_000_000_000_000
ROWS = ["r1", "r2", "r3"]


def _all_kinds_batch(key) -> MutationBatch:
    """All nine op kinds plus a per-cell TTL put, over three rows."""
    b = MutationBatch(base_seq=0)
    for i, r in enumerate(ROWS):
        k = key(r)
        b.put(k, "d", "q", f"v{i}", ts=10)
        b.put(k, "d", "q", f"w{i}", ts=20)
        b.put(k, "d", "tmp", "short-lived", ts=30, ttl_s=3600)
        b.add(k, "c", "be", 5, ts=11).add(k, "c", "be", 2, ts=12)
        b.add_int64(k, "c", "le", 7, ts=13)
        b.append(k, "d", "log", "a", ts=14).append(k, "d", "log", "b", ts=15)
        b.put_if_absent(k, "d", "once", "first", ts=16)
        b.put_if_absent(k, "d", "once", "second", ts=17)
    b.delete_version(key("r1"), "d", "q", ts=20)
    b.delete_column(key("r2"), "d", "log", ts=15)
    b.delete_family(key("r3"), "c", ts=13)
    b.delete_row(key("r3"), ts=10)
    assert b.op_kinds == sorted(CellOp.NAMES)
    return b


def _envelope(cat: Catalog, name: str) -> tuple:
    """tablet_info's row-key bounds over all files, and the row total
    (a Spark write may split one batch over several files)."""
    infos = [i for i in cat.tablet_info(name) if i["rows"]]
    return (
        min(i["start_key"] for i in infos),
        max(i["end_key"] for i in infos),
        sum(i["rows"] for i in infos),
    )


def _stats(cat: Catalog, name: str) -> dict:
    st = cat.table_stats(name)
    return {k: v for k, v in st.items() if k not in ("table", "files", "bytes")}


def _view(cat: Catalog, name: str) -> list:
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in cat.view(name, now_us=NOW).collect()
    )


@pytest.mark.parametrize("layout", ["plain", "hash"])
def test_driver_commit_matches_spark_commit(spark, tmp_path, monkeypatch, layout):
    cat = Catalog(spark, str(tmp_path / "cat"))
    hashed = layout == "hash"
    key = py_hash_prefix_key if hashed else (lambda k: k)
    opts = " <hash=on>" if hashed else ""
    batch = _all_kinds_batch(key)
    for name, cells in (
        ("by_driver", batch.to_arrow(now_us=NOW)),
        ("by_spark", batch.to_df(spark, now_us=NOW)),
    ):
        cat.create_table(f"{name}{opts} {{ d <maxversions=3>, c }}")
        cat.append(name, cells, commit_seq=len(batch) - 1, op_kinds=batch.op_kinds)

    assert _view(cat, "by_driver") == _view(cat, "by_spark")
    keys = [key(r) for r in ROWS]
    got = [Seeker(cat, n).multi_get(keys, now_us=NOW) for n in ("by_driver", "by_spark")]
    assert got[0] == got[1] and set(got[0]) == set(keys)
    assert _envelope(cat, "by_driver") == _envelope(cat, "by_spark")
    assert _stats(cat, "by_driver") == _stats(cat, "by_spark")
    assert _stats(cat, "by_driver")["fold_route"] == "general"

    # compact_ranges routes each group's fold by the op codes in the
    # footers: both writers must give it the same proof
    import tera_spark.operators.compact as compact_mod

    routes: list[str] = []
    real = compact_mod.compact

    def spy(oplog, schema, **kw):
        routes.append(fold_route(kw.get("op_kinds")))
        return real(oplog, schema, **kw)

    monkeypatch.setattr(compact_mod, "compact", spy)
    for name in ("by_driver", "by_spark"):
        routes.clear()
        assert cat.compact_ranges(name, now_us=NOW)["groups_folded"] >= 1
        assert set(routes) == {"general"}, (name, routes)
    assert _view(cat, "by_driver") == _view(cat, "by_spark")


def test_driver_commit_matches_spark_commit_kv(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    rows = [
        ("k1", b"v1", None, 1),
        ("k2", b"v2", NOW + 3_600_000_000, 2),
        ("k3", b"gone", NOW - 1, 3),  # expired
        ("k1", b"v1b", None, 4),
        ("k2", None, None, 5),  # tombstone
        ("k0", b"v0", 0, 6),
    ]
    for name, cells in (
        ("kv_driver", arrow_table(rows, KV_OPLOG_SCHEMA)),
        ("kv_spark", spark.createDataFrame(rows, KV_OPLOG_SCHEMA)),
    ):
        cat.create_table(name)
        cat.append(name, cells, commit_seq=6)
    assert _view(cat, "kv_driver") == _view(cat, "kv_spark")
    assert [r[0] for r in _view(cat, "kv_driver")] == ["k0", "k1"]
    for k in ("k0", "k1", "k2", "k3", "nope"):
        assert (
            Seeker(cat, "kv_driver").get_kv(k, now_us=NOW)
            == Seeker(cat, "kv_spark").get_kv(k, now_us=NOW)
        )
    assert _envelope(cat, "kv_driver") == _envelope(cat, "kv_spark")
    assert _stats(cat, "kv_driver") == _stats(cat, "kv_spark")


def test_driver_commit_computes_seq_and_kinds_without_spark(spark, tmp_path):
    """A pyarrow input without ``commit_seq`` gets its record from the
    table itself, as a DataFrame's does from an aggregation."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t { d }")
    b = MutationBatch(base_seq=3).put("r", "d", "q", "v", ts=1).add("r", "d", "n", 1, ts=2)
    cat.append("t", b.to_arrow())
    assert cat.commit_watermark("t") == 4
    assert cat._op_kinds_union("t") == {CellOp.PUT, CellOp.ADD}


def _jobs_in(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sdk_writes_and_cas_start_no_spark_job(spark, tmp_path):
    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("t { d, c }")
    t = c.open_table("t")
    sc = spark.sparkContext
    group = f"driver-commit-{os.getpid()}-{time.time_ns()}"
    sc.setJobGroup(group, "driver-commit probe")
    try:
        t.put("r", "d", "q", "v0")  # a fresh handle's first write too
        t.put("r", "d", "q", "v1")
        t.increment_column_value("r", "c", "n", 3)
        assert t.check_and_apply("r", "d", "q", "v1", MutationBatch().put("r", "d", "q", "v2"))
        assert _jobs_in(sc, group) == 0
        # the probe sees jobs that do run in the group
        assert c.catalog.view("t").count() == 2
        assert _jobs_in(sc, group) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert t.get("r") == spark_get_map(c.catalog, "t", "r")
    assert t.get("r")["d"]["q"][0][1] == b"v2"


def test_raw_max_seq_and_rollback_start_no_spark_job(spark, tmp_path):
    """The raw max seq comes from the op-log index's footer statistics,
    so neither it nor a rollback to a snapshot runs a Spark job."""
    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("t { d }")
    t = c.open_table("t")
    t.put("r", "d", "q", "v0")
    sid = c.catalog.snapshot("t")
    t.put("r", "d", "q", "v1")
    sc = spark.sparkContext
    group = f"driver-rollback-{os.getpid()}-{time.time_ns()}"
    sc.setJobGroup(group, "raw-max-seq probe")
    try:
        assert c.catalog.raw_max_seq("t") == 1
        c.catalog.rollback("t", sid)
        assert _jobs_in(sc, group) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert t.get("r")["d"]["q"][0][1] == b"v0"


def test_sdk_scans_and_transactions_start_no_spark_job(spark, tmp_path):
    """Table.scan, KvTable.scan, a row transaction and global
    transactions (plain and cas=True, two tables) read and commit
    through the seek path and the driver: no Spark job."""
    from tera_spark.operators.scan import ScanDescriptor

    c = Client(spark, str(tmp_path / "cat"))
    for name in ("t", "u"):
        c.create_table(f"{name} {{ d }}")
    c.create_table("kv")
    t, u, kv = (c.open_table(n) for n in ("t", "u", "kv"))
    sc = spark.sparkContext
    group = f"driver-scan-{os.getpid()}-{time.time_ns()}"
    sc.setJobGroup(group, "driver-scan probe")
    try:
        for i in range(5):
            t.put(f"r{i}", "d", "q", f"v{i}")
        kv.put("k1", "a")
        kv.put("k2", "b")
        assert [r.row_key for r in t.scan(ScanDescriptor(start="r1", number_limit=3))] == [
            "r1", "r2", "r3",
        ]
        assert [(r.key, r.value) for r in kv.scan()] == [("k1", b"a"), ("k2", b"b")]
        txn = t.start_row_transaction("r0")
        assert txn.read("d", "q") == b"v0"
        t.commit_row_transaction(txn.put("d", "q", "row-txn"))
        g = c.new_global_transaction()
        assert g.read("t", "r1", "d", "q") == b"v1"
        g.put("t", "r1", "d", "q", "g1").put("u", "r1", "d", "q", "g1")
        assert g.commit() == {"t": 1, "u": 1}
        g = c.new_global_transaction()
        assert g.read("u", "r1", "d", "q") == b"g1"
        g.put("t", "r2", "d", "q", "g2").put("u", "r2", "d", "q", "g2")
        assert g.commit(cas=True) == {"t": 1, "u": 1}
        assert _jobs_in(sc, group) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    want = {"r0": b"row-txn", "r1": b"g1", "r2": b"g2", "r3": b"v3", "r4": b"v4"}
    assert {r.row_key: bytes(r.value) for r in t.scan()} == want
    assert {r.row_key: bytes(r.value) for r in u.scan()} == {"r1": b"g1", "r2": b"g2"}


def test_visible_max_seq_matches_masked_spark_max(spark, tmp_path):
    """Catalog.visible_max_seq (the op-log index, no Spark job) equals
    read_oplog's masked max(seq) through a torn batch, a rolled-back
    tail, an in-flight gap and a file straddling the watermark."""
    import pyarrow.parquet as pq

    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("t { d }")
    cat = c.catalog
    t = c.open_table("t")

    def check(want):
        mx = cat.read_oplog("t").agg({"seq": "max"}).collect()[0][0]
        assert cat.visible_max_seq("t") == mx == want

    for i in range(5):
        t.put(f"r{i}", "d", "q", "v")  # seqs 0..4
    check(4)
    # a torn batch: a file above the watermark, no commit record
    torn = MutationBatch(base_seq=5).put("x", "d", "q", "t").put("y", "d", "q", "t")
    pq.write_table(torn.to_arrow(), f"{cat.oplog_path('t')}/part-torn-00000.parquet")
    check(4)
    # a new writer's first commit rolls the tail back: (4, 6] masked
    c2 = Client(spark, str(tmp_path / "cat"))
    c2.open_table("t").put("r9", "d", "q", "v")
    assert {"after": 4, "upto": 6} in cat._rollbacks("t")
    check(7)
    # an in-flight window: staged, no record; a later commit's record
    # keeps it gap-masked
    tok = cat.begin_disjoint_commit("t", 2, ["g"], "peer")
    cat.stage_disjoint_data(tok, MutationBatch().put("g", "d", "q", "a").put("g", "d", "q", "b"))
    cat.append_cas("t", MutationBatch().put("r8", "d", "q", "v"))
    assert cat._masked_gaps("t") == [(tok["lo"], tok["hi"])]
    check(tok["hi"] + 1)
    # one file straddling the watermark: its max is a torn row
    top = tok["hi"] + 1
    b = MutationBatch(base_seq=top + 1)
    for i in range(4):
        b.put(f"s{i}", "d", "q", "v")
    cat.append("t", b.to_arrow(), commit_seq=top + 2)
    check(top + 2)
    cat.abort_disjoint_commit(tok)


# --- CheckAndApply through the seek path ------------------------------


# --- CheckAndApply through the seek path ------------------------------


def test_cas_compares_newest_version(spark, tmp_path):
    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("t { d <maxversions=3> }")
    t = c.open_table("t")
    for i in (1, 2, 3):
        t.put("r", "d", "q", f"v{i}", ts=i)
    assert not t.check_and_apply("r", "d", "q", "v1", MutationBatch().put("r", "d", "q", "x", ts=4))
    assert [v for _, v in t.get("r")["d"]["q"]] == [b"v3", b"v2", b"v1"]
    assert t.check_and_apply("r", "d", "q", "v3", MutationBatch().put("r", "d", "q", "x", ts=4))
    assert [v for _, v in t.get("r")["d"]["q"]] == [b"x", b"v3", b"v2"]


def test_cas_on_ttl_expired_cell_does_not_land(spark, tmp_path):
    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("t { d <ttl=1> }")
    t = c.open_table("t")
    old = int(time.time() * 1_000_000) - 60_000_000  # 60 s ago, ttl 1 s
    t.put("r", "d", "q", "stale", ts=old)
    assert t.get("r") == {} == spark_get_map(c.catalog, "t", "r")
    assert not t.check_and_apply("r", "d", "q", "stale", MutationBatch().put("r", "d", "q", "x"))
    assert t.get("r") == {}


def test_cas_on_hash_table_and_retry_keeps_user_keys(spark, tmp_path):
    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("h <hash=on> { d }")
    h = c.open_table("h")
    h.put("u1", "d", "q", "a")
    batch = MutationBatch().put("u1", "d", "q", "b")
    assert not h.check_and_apply("u1", "d", "q", "wrong", batch)
    assert batch.row_keys == ["u1"]  # the failed attempt left the batch as it was
    assert h.check_and_apply("u1", "d", "q", "a", batch)
    assert batch.row_keys == ["u1"]
    assert h.get("u1")["d"]["q"][0][1] == b"b"
    assert h.get("u1") == spark_get_map(c.catalog, "h", py_hash_prefix_key("u1"))
    stored = {r.row_key for r in c.catalog.view("h").collect()}
    assert stored == {py_hash_prefix_key("u1")}


# --- the op-kinds summary ---------------------------------------------


def test_opkinds_summary_rewritten_only_when_union_changes(spark, tmp_path, monkeypatch):
    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("t { d, c }")
    t = c.open_table("t")
    t.put("r", "d", "q", "v0")
    summary = Path(c.catalog.root) / "t" / "opkinds.json"
    st0 = summary.stat()
    time.sleep(0.01)  # a rewrite would move st_mtime_ns
    t.put("r", "d", "q", "v1")  # PUT is already in the union
    st1 = summary.stat()
    assert (st1.st_ino, st1.st_mtime_ns) == (st0.st_ino, st0.st_mtime_ns)

    # a new kind rewrites it, before the commit record lands
    seen: list[tuple] = []
    real = Catalog._write_op_kinds

    def spy(self, name, kinds):
        recs = sorted(int(p.stem) for p in (self.root / name / "commits").glob("*.json"))
        seen.append((kinds, recs[-1]))
        real(self, name, kinds)

    monkeypatch.setattr(Catalog, "_write_op_kinds", spy)
    t.increment_column_value("r", "c", "n", 1)
    wm = c.catalog.commit_watermark("t")
    assert seen == [({CellOp.PUT, CellOp.ADD}, wm - 1)]
    assert summary.stat().st_ino != st0.st_ino
    assert c.catalog._op_kinds_union("t") == {CellOp.PUT, CellOp.ADD}

