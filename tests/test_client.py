"""SDK-shaped facade: the call patterns a tera user writes against
TeraSdk.py / client.h, line for line, must work here — open, put, get
(ToMap nesting), versioned reads, counters, CAS, scan order, row txn."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from tera_spark.client import Client
from tera_spark.functions.codecs import py_encode_be_i64
from tera_spark.operators.mutation import MutationBatch
from tera_spark.operators.scan import ScanDescriptor
from tera_spark.operators.txn import RowTxnConflict

from tests.test_seek import spark_get_map


@pytest.fixture()
def client(spark):
    d = tempfile.mkdtemp(prefix="tera_client_")
    yield Client(spark, d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_sdk_workflow(client):
    client.create_table("usertab {info <maxversions=2>, cnt}")
    assert client.is_table_exist("usertab") and client.list_tables() == ["usertab"]
    t = client.open_table("usertab")

    # put / get with ToMap nesting, newest-first versions
    t.put("u1", "info", "name", "alice", ts=1)
    t.put("u1", "info", "name", "alicia", ts=2)
    t.put("u1", "info", "city", "rome", ts=1)
    m = t.get("u1")
    assert m["info"]["name"] == [(2, b"alicia"), (1, b"alice")]
    assert m["info"]["city"] == [(1, b"rome")]

    # column projection + max_versions=1
    m1 = t.get("u1", columns={"info": ["name"]}, max_versions=1)
    assert m1 == {"info": {"name": [(2, b"alicia")]}}

    # counter: increment then read back big-endian
    t.increment_column_value("u1", "cnt", "logins", 5, ts=3)
    t.increment_column_value("u1", "cnt", "logins", 2, ts=4)
    m2 = t.get("u1", columns={"cnt": ["logins"]})
    assert m2["cnt"]["logins"][0][1] == py_encode_be_i64(7)

    # CAS: succeeds against current value, then fails against stale
    ok = t.check_and_apply(
        "u1", "info", "city", "rome", MutationBatch().put("u1", "info", "city", "paris", ts=9)
    )
    assert ok
    assert not t.check_and_apply(
        "u1", "info", "city", "rome", MutationBatch().put("u1", "info", "city", "oslo", ts=10)
    )
    assert t.get("u1", columns={"info": ["city"]})["info"]["city"][0] == (9, b"paris")


def test_scan_order_and_batch_get(client):
    client.create_table("scantab {cf0}")
    t = client.open_table("scantab")
    b = MutationBatch()
    for i in (3, 1, 2):
        b.put(f"r{i}", "cf0", "q", f"v{i}", ts=i)
    t.apply_mutation(b)

    cells = list(t.scan(ScanDescriptor(start="r1", end="r3")))
    assert [(c.row_key, bytes(c.value)) for c in cells] == [("r1", b"v1"), ("r2", b"v2")]

    got = {r.row_key for r in t.batch_get(["r1", "r3", "missing"]).collect()}
    assert got == {"r1", "r3"}
    assert len(t.start_end_keys()) >= 1


def test_row_transaction_conflict(client):
    client.create_table("txntab {cf0}")
    t = client.open_table("txntab")
    t.put("acct", "cf0", "bal", "100", ts=1)

    txn = t.start_row_transaction("acct")
    assert txn.read("cf0", "bal") == b"100"
    txn.put("cf0", "bal", "90", ts=2)

    # interleaved write -> commit must conflict
    t.put("acct", "cf0", "bal", "50", ts=2)
    with pytest.raises(RowTxnConflict):
        t.commit_row_transaction(txn)

    # clean retry succeeds
    txn2 = t.start_row_transaction("acct")
    txn2.put("cf0", "bal", "40", ts=3)
    t.commit_row_transaction(txn2)
    assert t.get("acct", max_versions=1)["cf0"]["bal"][0][1] == b"40"


def test_row_transaction_commit_survives_rolled_back_tail(client, spark):
    """A row-txn commit takes a fresh table seq, like every SDK write:
    the row's snapshot seq + 1 can sit inside a rolled-back torn tail,
    where the committed write would be masked from every read."""
    client.create_table("txntail {cf0}")
    t = client.open_table("txntail")
    for i in range(6):
        t.put("acct", "cf0", "bal", str(i), ts=i + 1)  # seqs 0..5
    # a writer died after its file landed, before its commit record
    torn = MutationBatch(base_seq=6)
    for i in range(5):
        torn.put(f"torn{i}", "cf0", "bal", "x", ts=1)  # seqs 6..10
    torn.to_df(spark).write.mode("append").parquet(client.catalog.oplog_path("txntail"))
    # a new writer's first commit recovers the tail as a rollback window
    t2 = Client(spark, str(client.catalog.root)).open_table("txntail")
    t2.put("other", "cf0", "bal", "o", ts=1)
    assert {"after": 5, "upto": 10} in client.catalog._rollbacks("txntail")

    txn = t2.start_row_transaction("acct")
    assert txn.read("cf0", "bal") == b"5"
    txn.put("cf0", "bal", "txn-wrote", ts=7)
    t2.commit_row_transaction(txn)
    assert t2.get("acct") == {"cf0": {"bal": [(7, b"txn-wrote")]}}
    assert spark_get_map(client.catalog, "txntail", "acct") == t2.get("acct")


def test_later_write_wins_across_commits_same_ts(client):
    """Two separate commits at the SAME user timestamp: the later
    commit's sequence must win (LevelDB sequence tie-break)."""
    client.create_table("seqtab {cf0}")
    t = client.open_table("seqtab")
    t.put("k", "cf0", "q", "first", ts=7)
    t.put("k", "cf0", "q", "second", ts=7)
    assert t.get("k", max_versions=1)["cf0"]["q"][0][1] == b"second"


def test_kv_table_facade(client):
    client.create_table("kvtab")  # no braces -> kv mode (teracli form)
    t = client.open_table("kvtab")
    from tera_spark.client import KvTable

    assert isinstance(t, KvTable)
    t.put("k1", "v1")
    t.put("k2", "v2")
    t.put("k1", "v1b")  # overwrite, LWW
    assert t.get("k1") == b"v1b"
    assert t.get("nope") is None
    t.delete("k2")
    assert t.get("k2") is None
    assert [(r.key, bytes(r.value)) for r in t.scan()] == [("k1", b"v1b")]


def test_global_transaction_via_client(client):
    client.create_table("gt1 {cf0}")
    client.create_table("gt2 {cf0}")
    a, b = client.open_table("gt1"), client.open_table("gt2")
    a.put("x", "cf0", "v", "10", ts=1)
    b.put("y", "cf0", "v", "20", ts=1)

    g = client.new_global_transaction()
    va = g.read("gt1", "x", "cf0", "v")
    vb = g.read("gt2", "y", "cf0", "v")
    g.put("gt1", "x", "cf0", "v", str(int(va.decode()) - 5), ts=2)
    g.put("gt2", "y", "cf0", "v", str(int(vb.decode()) + 5), ts=2)
    g.commit()
    assert a.get("x", max_versions=1)["cf0"]["v"][0][1] == b"5"
    assert b.get("y", max_versions=1)["cf0"]["v"][0][1] == b"25"


def test_scan_snapshot_seq_reads_as_of(spark, tmp_path):
    """MIGRATION.md promise: t.scan(..., snapshot_seq=n) reads the
    table as of a write sequence (SetSnapshot, scan.h:121)."""
    from tera_spark.client import Client

    c = Client(spark, str(tmp_path / "root"))
    c.create_table("t { A }")
    t = c.open_table("t")
    t.put("r1", "A", "q", "old", ts=1)
    seq_after_first = c.catalog.raw_max_seq("t")
    t.put("r1", "A", "q", "new", ts=2)

    now = [r for r in t.scan()]
    assert [bytes(r.value) for r in now] == [b"new"]
    then = [r for r in t.scan(snapshot_seq=seq_after_first)]
    assert [bytes(r.value) for r in then] == [b"old"]
    assert t.scan_df(snapshot_seq=seq_after_first).count() == 1


@pytest.mark.slow
def test_hash_distributed_table_transparent(spark, tmp_path):
    """<hash=on> tables (TableDescriptor hash mode, murmur prefix
    src/sdk/table_impl.cc:98): the SDK translates keys both ways, so
    callers never see the prefix — puts land under prefixed keys
    (monotonic writers scatter), gets/scans/CAS answer in user keys,
    and the stored layout is verifiably prefixed."""
    from tera_spark.client import Client
    from tera_spark.functions.keys import PREFIX_LEN, py_hash_prefix_key
    from tera_spark.operators.mutation import MutationBatch
    from tera_spark.operators.scan import ScanDescriptor

    c = Client(spark, str(tmp_path / "root"))
    c.create_table("ht <hash=on> { d }")
    t = c.open_table("ht")
    for i in range(8):
        t.put(f"user{i:04d}", "d", "q", f"v{i}", ts=1)

    # stored keys are prefixed; user order is scattered
    raw = {r.row_key for r in c.catalog.read_oplog("ht").collect()}
    assert raw == {py_hash_prefix_key(f"user{i:04d}") for i in range(8)}
    assert all(len(k) > PREFIX_LEN and not k.startswith("user") for k in raw)

    # point read: user key in, plain ToMap out
    m = t.get("user0003")
    assert m["d"]["q"] == [(1, b"v3")]
    # the Spark operator reads the same row under the stored key
    assert m == spark_get_map(c.catalog, "ht", py_hash_prefix_key("user0003"))

    # multi_get returns user-keyed results
    got = t.multi_get(["user0001", "user0006"])
    assert set(got) == {"user0001", "user0006"}
    assert got["user0001"][0][0] == "user0001"

    # scan with a user-key range post-filters to exactly that range
    rows = list(t.scan(ScanDescriptor(start="user0002", end="user0005")))
    assert [r.row_key for r in rows] == ["user0002", "user0003", "user0004"]

    # CAS sees through the prefix
    ok = t.check_and_apply(
        "user0007", "d", "q", b"v7", MutationBatch().put("user0007", "d", "q", "v7b", ts=2)
    )
    assert ok
    assert t.get("user0007")["d"]["q"][0] == (2, b"v7b")

    # delete_row translates
    t.delete_row("user0000", ts=9)
    assert t.get("user0000") == {}


def test_row_mutation_terasdk_shim(spark, tmp_path):
    """TeraSdk call sites translate unchanged: NewRowMutation ->
    Put/PutWithTimestamp/PutInt64/Delete* -> ApplyMutation
    (src/sdk/python/TeraSdk.py:293-440)."""
    from tera_spark.client import Client
    from tera_spark.functions.codecs import py_encode_le_i64

    c = Client(spark, str(tmp_path / "root"))
    c.create_table("sdk { d <maxversions=2> }")
    t = c.open_table("sdk")

    mu = t.NewRowMutation("r1")
    mu.Put("d", "name", "alice").PutWithTimestamp("d", "name", 5, "alice-v5")
    mu.PutInt64("d", "count", 42)
    assert mu.RowKey() == "r1"
    t.ApplyMutation(mu)

    m = t.get("r1")
    assert [v for _, v in m["d"]["name"]] == [b"alice-v5", b"alice"] or len(m["d"]["name"]) == 2
    assert m["d"]["count"][0][1] == py_encode_le_i64(42)

    # delete family then the whole row
    mu2 = t.NewRowMutation("r1").DeleteColumnAllVersions("d", "count")
    t.ApplyMutation(mu2)
    assert "count" not in t.get("r1").get("d", {})
    t.ApplyMutation(t.NewRowMutation("r1").DeleteRow())
    assert t.get("r1") == {}

    import pytest

    with pytest.raises(TypeError):
        t.NewRowMutation("r2").PutKV("v", 60)


@pytest.mark.slow
def test_create_hash_table_with_hash_num_presplits(client):
    """CreateTable(desc, hash_num) (src/sdk/client_impl.cc:160-168):
    a hash table pre-splits into hash_num equal slices of the 64-bit
    hash space; after optimize no file spans a slice boundary, and the
    overload is refused on a non-hash table (kBadParam message)."""
    import pytest as _pytest

    from tera_spark.functions.keys import hash_delimiters

    s = client.create_table("ht <hash=on> { d }", hash_num=4)
    delims = hash_delimiters(4)
    assert s.delimiters == delims and len(delims) == 3

    t = client.open_table("ht")
    for i in range(40):
        t.put(f"user{i:03d}", "d", "q", f"v{i}")
    cat = client.catalog
    cat.optimize("ht")
    for info in cat.tablet_info("ht"):
        if not info["rows"]:
            continue
        # file range must sit wholly inside one hash slice
        s_slice = sum(1 for d in delims if d <= info["start_key"])
        e_slice = sum(1 for d in delims if d <= info["end_key"])
        assert s_slice == e_slice, info
    # keys remain transparently readable after the layout job
    assert t.get("user007")["d"]["q"][0][1] == b"v7"

    with _pytest.raises(ValueError, match="non-hash table with hash_num"):
        client.create_table("plain { d }", hash_num=4)


def test_scan_number_limit_keeps_first_cells_in_scan_order(client, capsys):
    """number_limit means the first N cells in (row_key, cf, qualifier,
    ts desc) order on every scan form: the DataFrame operator, the SDK
    scan and teracli scan --limit — not any N of the unordered fold."""
    from tera_spark.cli import main

    client.create_table("lim {c <maxversions=2>}")
    t = client.open_table("lim")
    for part in range(3):  # three driver-written files, PUT and ADD ops
        b = MutationBatch()
        for i in range(part, 20, 3):
            b.put(f"k{i:02d}", "c", "v", f"v{i}", ts=1)
            b.add(f"k{i:02d}", "c", "n", i, ts=1)
        t.apply_mutation(b)
    t.put("k01", "c", "v", "v1b", ts=2)
    want = [
        ("k00", "n", 1), ("k00", "v", 1), ("k01", "n", 1), ("k01", "v", 2), ("k01", "v", 1),
    ]

    def head(rows):
        return [(r.row_key, r.qualifier, r.ts) for r in rows]

    assert head(t.scan_df(ScanDescriptor(number_limit=5)).collect()) == want
    assert head(t.scan(ScanDescriptor(number_limit=5))) == want
    assert head(t.scan_df(ScanDescriptor(start="k10", number_limit=3)).collect()) == [
        ("k10", "n", 1), ("k10", "v", 1), ("k11", "n", 1),
    ]
    capsys.readouterr()
    assert main(["--root", str(client.catalog.root), "scan", "lim", "--start", "k10",
                 "--limit", "3"]) == 0
    assert [line.split()[0] for line in capsys.readouterr().out.splitlines()] == [
        "k10", "k10", "k11",
    ]
