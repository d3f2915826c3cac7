"""One sequence allocator: every commit that carries no seqs of its own
takes its window from the table's counter (casmeta/alloc.json), whichever
handle, thread or catalog makes it; and every SDK read passes the
table's read gate."""

from __future__ import annotations

import json
import sys
import threading
import time
from pathlib import Path

import pytest

from tera_spark.access import AccessControl, AccessDenied
from tera_spark.catalog import Catalog
from tera_spark.client import Client, KvTable, Table
from tera_spark.model import KV_OPLOG_SCHEMA, arrow_table
from tera_spark.operators.mutation import MutationBatch
from tera_spark.operators.txn import GlobalTransaction, GlobalTxnConflict, RowTxnConflict


@pytest.fixture()
def cat(spark, tmp_path):
    c = Catalog(spark, str(tmp_path / "cat"))
    c.create_table("t { cf }")
    return c


def _windows(cat: Catalog, name: str) -> list[tuple[int, int]]:
    recs = (json.loads(p.read_text()) for p in (cat.root / name / "commits").glob("*.json"))
    return sorted((r.get("lo", r["seq"]), r["seq"]) for r in recs)


# --- handles share one counter ----------------------------------------


def test_later_put_from_older_handle_wins(cat):
    a = Table(cat, "t")
    a.put("x", "cf", "q", "x")  # seq 0
    b = Table(cat, "t")
    b.put("y", "cf", "q", "y")  # seq 1
    b.put("r", "cf", "q", "b", ts=200)  # seq 2
    a.put("r", "cf", "q", "c", ts=200)  # same cell and ts: the later commit wins
    assert a.get("r", max_versions=1) == {"cf": {"q": [(200, b"c")]}}
    assert [lo for lo, _ in _windows(cat, "t")] == [0, 1, 2, 3]


def test_row_txn_sees_a_put_from_another_handle(cat):
    a = Table(cat, "t")
    a.put("x", "cf", "q", "x")
    b = Table(cat, "t")
    b.put("y", "cf", "q", "y")
    b.put("r", "cf", "q", "b")
    txn = b.start_row_transaction("r")  # snapshot seq 2
    a.put("r", "cf", "q", "a")
    txn.put("cf", "q", "txn")
    with pytest.raises(RowTxnConflict):
        b.commit_row_transaction(txn)


def test_global_txn_sees_a_put_after_an_earlier_txn(cat):
    t = Table(cat, "t")
    t.put("r", "cf", "q", "h0")  # seq 0
    g1 = GlobalTransaction(cat)
    g1.put("t", "other", "cf", "q", "g1")
    g1.commit()  # window [1, 1]
    g2 = GlobalTransaction(cat)
    assert g2.read("t", "r", "cf", "q") == b"h0"
    t.put("r", "cf", "q", "h1")
    g2.put("t", "r", "cf", "q", "h0+g2")
    with pytest.raises(GlobalTxnConflict):
        g2.commit()
    assert t.get("r", max_versions=1)["cf"]["q"][0][1] == b"h1"


def test_global_txn_recovers_the_torn_tail_before_reserving(spark, tmp_path):
    """A fresh process meets a counter and an unrecovered torn tail
    (seqs 1-2): the window must land above the tail, not inside it."""
    root = str(tmp_path / "cat")
    a = Catalog(spark, root)
    a.create_table("t { cf }")
    a.append_cas("t", MutationBatch().put("seed", "cf", "q", "s", ts=1))  # seq 0
    assert (Path(root) / "t" / "casmeta" / "alloc.json").exists()
    torn = MutationBatch(base_seq=1).put("torn1", "cf", "q", "x").put("torn2", "cf", "q", "x")
    torn.to_df(spark).write.mode("append").parquet(a.oplog_path("t"))

    b = Catalog(spark, root)
    g = GlobalTransaction(b)
    g.put("t", "r", "cf", "q", "v")
    assert g.commit() == {"t": 1}
    assert {"after": 0, "upto": 2} in b._rollbacks("t")
    assert sorted(r.row_key for r in b.view("t").collect()) == ["r", "seed"]


def test_put_after_global_txn_takes_one_claim(cat, monkeypatch):
    GlobalTransaction(cat).put("t", "g", "cf", "q", "v").commit()
    t = Table(cat, "t")
    t.put("warm", "cf", "q", "v")
    calls = []
    real = cat.arbiter.try_claim

    def counting(p, *a, **kw):
        calls.append(Path(p).name)
        return real(p, *a, **kw)

    monkeypatch.setattr(cat.arbiter, "try_claim", counting)
    t.put("r", "cf", "q", "v")
    t.increment_column_value("r", "cf", "n", 1)
    assert calls == ["alloc.lock", "alloc.lock"]


def test_concurrent_handles_and_catalogs_get_disjoint_windows(spark, tmp_path):
    """Four threads, each with its own Table on one catalog, and a
    second catalog on the same root, each put 50 rows concurrently."""
    root = str(tmp_path / "cat")
    one = Catalog(spark, root)
    one.create_table("t { cf }")
    two = Catalog(spark, root)
    handles = [Table(one, "t") for _ in range(4)] + [Table(two, "t")]
    errors: list[Exception] = []

    def writer(i: int, h: Table):
        try:
            for k in range(50):
                h.put(f"w{i}-{k:02d}", "cf", "q", "v")
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i, h)) for i, h in enumerate(handles)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads) and not errors, errors
    wins = _windows(one, "t")
    assert len(wins) == 250
    assert all(hi < lo2 for (_, hi), (lo2, _) in zip(wins, wins[1:])), "overlapping windows"
    keys = {r.row_key for r in Table(Catalog(spark, root), "t").scan()}
    assert keys == {f"w{i}-{k:02d}" for i in range(5) for k in range(50)}
    assert one.commit_watermark("t") == one.raw_max_seq("t") == wins[-1][1]
    assert one._rollbacks("t") == [] and one._masked_gaps("t") == []


def test_kv_put_lands_above_wall_clock_seqs(spark, tmp_path):
    """KV tables of older versions hold wall-clock (ns) seqs; the
    counter bootstraps above them, so the next put still wins."""
    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("kv")
    old = time.time_ns()
    c.catalog.append("kv", arrow_table([("k", b"old", None, old)], KV_OPLOG_SCHEMA), commit_seq=old)
    kv = c.open_table("kv")
    kv.put("k", "new")
    assert kv.get("k") == b"new"
    assert c.catalog.commit_watermark("kv") > old


# --- the read gate ----------------------------------------------------


def test_sdk_reads_refuse_a_disabled_table(spark, tmp_path):
    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("t { cf }")
    c.create_table("kv")
    t, kv = c.open_table("t"), c.open_table("kv")
    t.put("r", "cf", "q", "v")
    kv.put("k", "v")
    c.disable_table("t")
    c.disable_table("kv")
    for read in (
        lambda: t.get("r"),
        lambda: t.scan(),
        lambda: t.multi_get(["r"]),
        lambda: t.start_row_transaction("r"),
        lambda: GlobalTransaction(c.catalog).read("t", "r", "cf", "q"),
        lambda: kv.get("k"),
        lambda: kv.scan(),
    ):
        with pytest.raises(ValueError, match="table disabled"):
            read()
    c.enable_table("t")
    assert t.get("r")["cf"]["q"][0][1] == b"v"


def test_sdk_reads_refuse_a_user_without_read_rights(spark, tmp_path):
    ac = AccessControl(str(tmp_path / "acl"), policy="ugi")
    ac.create_user("alice", "pw")
    root = str(tmp_path / "cat")
    alice = Catalog(spark, root, access=ac, user="alice")
    alice.create_table("t { cf }")
    Table(alice, "t").put("r", "cf", "q", "v")
    assert Table(alice, "t").get("r")["cf"]["q"][0][1] == b"v"
    mallory = Catalog(spark, root, access=ac, user="mallory")  # not a known user
    t = Table(mallory, "t")
    for read in (
        lambda: t.get("r"),
        lambda: t.scan(),
        lambda: t.start_row_transaction("r"),
        lambda: GlobalTransaction(mallory).read("t", "r", "cf", "q"),
    ):
        with pytest.raises(AccessDenied):
            read()


def test_kv_scan_is_metered_like_a_view(spark, tmp_path):
    from tera_spark.access import QuotaExceeded

    ac = AccessControl(str(tmp_path / "acl"))  # auth off, quota on
    ac.set_quota("kv", "scan_reqs", 1, period_s=3600)
    cat = Catalog(spark, str(tmp_path / "cat"), access=ac)
    cat.create_table("kv")
    kv = KvTable(cat, "kv")
    kv.put("k", "v")
    assert [r.key for r in kv.scan()] == ["k"]
    with pytest.raises(QuotaExceeded):
        kv.scan()
