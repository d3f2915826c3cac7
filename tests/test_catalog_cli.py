"""Catalog DDL/admin and CLI surface (create/put/import/scan/compact/
optimize/export round-trips on a temp table root)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from tera_spark.catalog import Catalog
from tera_spark.model import CellOp
from tera_spark.operators.mutation import MutationBatch
from tera_spark.operators.view import fold_route


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="tera_cat_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def cat(spark, root):
    return Catalog(spark, root)


def test_ddl_lifecycle(cat):
    s = cat.create_table("tbl1 {cf0 <maxversions=2>}")
    assert s.name == "tbl1" and cat.is_table_exist("tbl1")
    assert cat.list_tables() == ["tbl1"]
    assert cat.get_schema("tbl1").cf("cf0").max_versions == 2
    with pytest.raises(ValueError):
        cat.create_table("tbl1 {cf0}")
    # reference rule: drop refuses while enabled (doc/en/teracli.md)
    with pytest.raises(ValueError):
        cat.drop_table("tbl1")
    cat.disable_table("tbl1")
    cat.drop_table("tbl1")
    assert not cat.is_table_exist("tbl1")


def test_disable_blocks_reads_and_writes(cat, spark):
    cat.create_table("tbl_d {cf0}")
    cat.append("tbl_d", MutationBatch().put("r1", "cf0", "q", "v", ts=1).to_df(spark))
    cat.disable_table("tbl_d")
    assert not cat.is_table_enabled("tbl_d")
    with pytest.raises(ValueError):
        cat.view("tbl_d")
    with pytest.raises(ValueError):
        cat.append("tbl_d", MutationBatch().put("r2", "cf0", "q", "v", ts=1).to_df(spark))
    cat.enable_table("tbl_d")
    assert [r.row_key for r in cat.view("tbl_d").collect()] == ["r1"]


def test_write_view_compact_optimize(cat, spark):
    cat.create_table("t2 {d <maxversions=1>}")
    b = MutationBatch()
    for i in range(100):
        b.put(f"k{i:03d}", "d", "v", f"val{i}", ts=1)
    b.put("k000", "d", "v", "updated", ts=2)
    cat.append("t2", b.to_df(spark))
    v = {r.row_key: bytes(r.value) for r in cat.view("t2").collect()}
    assert v["k000"] == b"updated" and len(v) == 100
    cat.compact_inplace("t2")
    v2 = {r.row_key: bytes(r.value) for r in cat.view("t2").collect()}
    assert v2 == v
    nfiles = cat.optimize("t2", buckets=4)
    assert nfiles >= 1
    v3 = {r.row_key: bytes(r.value) for r in cat.view("t2").collect()}
    assert v3 == v


def test_snapshot_isolation(cat, spark):
    cat.create_table("t3 {d}")
    cat.append("t3", MutationBatch().put("r", "d", "q", "v1", ts=1).to_df(spark))
    sid = cat.snapshot("t3")
    cat.append("t3", MutationBatch(base_seq=10).put("r", "d", "q", "v2", ts=2).to_df(spark))
    snap = {bytes(r.value) for r in cat.read_snapshot("t3", sid).collect()}
    live = {bytes(r.value) for r in cat.view("t3").collect()}
    assert snap == {b"v1"} and live == {b"v2"}
    assert cat.list_snapshots("t3") == [sid]


def test_cli_end_to_end(spark, root, tmp_path, monkeypatch, capsys):
    from tera_spark.cli import main

    assert main(["--root", root, "create", "clitab {cf0}"]) == 0
    assert main(["--root", root, "put", "clitab", "row1", "cf0:greeting", "hello", "--ts", "5"]) == 0
    assert main(["--root", root, "get", "clitab", "row1"]) == 0
    out = capsys.readouterr().out
    assert "hello" in out
    assert main(["--root", root, "scan", "clitab", "--start", "row0", "--end", "row2"]) == 0
    assert "greeting" in capsys.readouterr().out
    assert main(["--root", root, "compact", "clitab"]) == 0
    assert main(["--root", root, "put", "clitab", "row1", "cf0:greeting", "hi2", "--ts", "6"]) == 0
    assert main(["--root", root, "compact", "clitab", "--minor"]) == 0
    assert "groups_folded" in capsys.readouterr().out
    assert main(["--root", root, "optimize", "clitab"]) == 0
    assert main(["--root", root, "show"]) == 0
    assert "clitab" in capsys.readouterr().out


def test_cli_mutation_and_admin_verbs(spark, root, capsys):
    from tera_spark.cli import main

    assert main(["--root", root, "create", "cliops {c <maxversions=1>}"]) == 0
    # atomic verbs: counter add x2, append x2, putif (second sticks... first)
    assert main(["--root", root, "add", "cliops", "r1", "c:n", "5", "--ts", "1"]) == 0
    assert main(["--root", root, "add", "cliops", "r1", "c:n", "7", "--ts", "2"]) == 0
    assert main(["--root", root, "append", "cliops", "r1", "c:log", "a", "--ts", "1"]) == 0
    assert main(["--root", root, "append", "cliops", "r1", "c:log", "b", "--ts", "2"]) == 0
    assert main(["--root", root, "putif", "cliops", "r1", "c:first", "one", "--ts", "1"]) == 0
    assert main(["--root", root, "putif", "cliops", "r1", "c:first", "two", "--ts", "2"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "get", "cliops", "r1"]) == 0
    out = capsys.readouterr().out
    assert "ab" in out and "one" in out and "two" not in out
    from tera_spark.functions.codecs import py_encode_be_i64

    assert repr(py_encode_be_i64(12)) in out
    # delete one column, row stays
    assert main(["--root", root, "delete", "cliops", "r1", "c:log", "--ts", "9"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "get", "cliops", "r1"]) == 0
    assert "log" not in capsys.readouterr().out
    # schema update + showschema
    assert main(["--root", root, "update", "cliops {c <maxversions=3>}"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "showschema", "cliops"]) == 0
    assert '"max_versions": 3' in capsys.readouterr().out
    # disable blocks, enable restores, disabled drop succeeds
    assert main(["--root", root, "disable", "cliops"]) == 0
    assert main(["--root", root, "enable", "cliops"]) == 0
    assert main(["--root", root, "disable", "cliops"]) == 0
    assert main(["--root", root, "drop", "cliops"]) == 0


def test_online_schema_change(cat, spark):
    # UpdateTableSchema (client.h:49-50): properties apply to the NEXT
    # read — the view builder consumes the registry lazily
    cat.create_table("t4 {d <maxversions=1>}")
    b = MutationBatch()
    for ts in (1, 2, 3):
        b.put("r", "d", "q", f"v{ts}", ts=ts)
    cat.append("t4", b.to_df(spark))
    assert {r.ts for r in cat.view("t4").collect()} == {3}
    s = cat.get_schema("t4")
    s.cf("d").max_versions = 2
    cat.update_schema(s)
    assert {r.ts for r in cat.view("t4").collect()} == {2, 3}


def test_tablet_info_bounds(cat, spark):
    cat.create_table("t5 {d}")
    b = MutationBatch()
    for i in range(200):
        b.put(f"k{i:04d}", "d", "q", f"v{i}", ts=1)
    cat.append("t5", b.to_df(spark))
    cat.optimize("t5", buckets=4)
    info = cat.tablet_info("t5")
    assert sum(t["rows"] for t in info) == 200
    nonempty = [t for t in info if t["rows"]]
    assert nonempty[0]["start_key"] == "k0000"
    # files form an ordered, non-overlapping range partition
    for a, b2 in zip(nonempty, nonempty[1:]):
        assert a["end_key"] <= b2["start_key"]


def test_replication_fanout_sync_fallback(spark, tmp_path):
    from tera_spark.sources.replication import ReplicatedWriter, read_any, sync_replica

    a = Catalog(spark, str(tmp_path / "dc_a"))
    b = Catalog(spark, str(tmp_path / "dc_b"))
    a.create_table("r {d}")
    b.create_table("r {d}")
    # fan-out write lands in both replicas
    w = ReplicatedWriter([a, b], "r")
    w.apply(MutationBatch().put("k1", "d", "q", "v1", ts=1).to_df(spark))
    assert {r.row_key for r in a.view("r").collect()} == {"k1"}
    assert {r.row_key for r in b.view("r").collect()} == {"k1"}
    # secondary down: need_all_success=False records the failure
    b.disable_table("r")
    w_lax = ReplicatedWriter([a, b], "r", need_all_success=False)
    failed = w_lax.apply(MutationBatch(base_seq=10).put("k2", "d", "q", "v2", ts=2).to_df(spark))
    assert failed == [1]
    b.enable_table("r")
    assert {r.row_key for r in b.view("r").collect()} == {"k1"}  # lagging
    # catch-up copies exactly the missing files; re-sync is a no-op
    n = sync_replica(a, b, "r")
    assert n > 0 and sync_replica(a, b, "r") == 0
    assert {r.row_key for r in b.view("r").collect()} == {"k1", "k2"}
    # read fallback skips a disabled primary
    a.disable_table("r")
    assert {r.row_key for r in read_any([a, b], "r").collect()} == {"k1", "k2"}


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from tera_spark.sources.bucketing import read_bucketed, write_bucketed

    b = MutationBatch()
    for i in range(500):
        b.put(f"k{i:04d}", "d", "q", f"v{i}", ts=1)
    cells = b.to_df(spark)
    keys = spark.range(0, 500, 5).selectExpr("format_string('k%04d', id) AS row_key")
    write_bucketed(cells, "bk_cells", str(tmp_path / "bk_cells"), buckets=8)
    write_bucketed(keys, "bk_keys", str(tmp_path / "bk_keys"), buckets=8)
    try:
        left = read_bucketed(spark, "bk_cells")
        right = read_bucketed(spark, "bk_keys")
        # merge hint: at test volume the planner would broadcast (which
        # disables bucketed scans); at scale SMJ is the natural choice
        joined = left.join(right.hint("merge"), "row_key")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the whole point: co-located join, shuffle paid at write time
        assert "Exchange" not in plan, plan
        assert joined.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_cells")
        spark.sql("DROP TABLE IF EXISTS bk_keys")


def test_lg_partitioned_layout_prunes_directories(spark, tmp_path):
    from tera_spark.operators.view import current_view
    from tera_spark.registry import parse_schema_string
    from tera_spark.sources.lg_layout import read_lg_pruned, write_lg_partitioned

    schema = parse_schema_string(
        "t { lg_hot <storage=flash> { cf_a, cf_b }, lg_cold { cf_c } }"
    )
    b = MutationBatch()
    for i in range(50):
        b.put(f"k{i:03d}", "cf_a", "q", f"a{i}", ts=1)
        b.put(f"k{i:03d}", "cf_b", "q", f"b{i}", ts=1)
        b.put(f"k{i:03d}", "cf_c", "q", f"c{i}", ts=1)
    b.delete_row("k001", ts=5)
    path = str(tmp_path / "lg_table")
    write_lg_partitioned(b.to_df(spark), schema, path)
    # physical layout: one directory per LG + the row-delete partition
    dirs = sorted(p.name for p in (tmp_path / "lg_table").glob("lg=*"))
    assert dirs == ["lg=__row_del", "lg=lg_cold", "lg=lg_hot"]
    # scan of cf_c: lg_hot is pruned at the partition level
    pruned = read_lg_pruned(spark, path, schema, column_families=["cf_c"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lg#" in plan.split("PartitionFilters")[1][:200]
    got = {r.row_key for r in current_view(pruned, schema).collect()}
    # row-delete mark from the shared partition still masks k001
    assert "k001" not in got and len(got) == 49
    # unrestricted read sees every cf
    all_cells = read_lg_pruned(spark, path, schema)
    assert current_view(all_cells, schema).count() == 49 * 3


def test_lg_compression_per_group(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from tera_spark.registry import parse_schema_string
    from tera_spark.sources.lg_layout import write_lg_partitioned

    schema = parse_schema_string("t { lgm <compress=none> { a }, lgd <compress=zstd> { b } }")
    b = MutationBatch()
    for i in range(50):
        b.put(f"k{i}", "a", "q", "x" * 50, ts=1)
        b.put(f"k{i}", "b", "q", "y" * 50, ts=1)
    d = str(tmp_path / "lgc")
    write_lg_partitioned(b.to_df(spark), schema, d)
    codec = {}
    for lg in ("lgm", "lgd"):
        f = glob.glob(f"{d}/lg={lg}/part-*.parquet")[0]
        codec[lg] = pq.ParquetFile(f).metadata.row_group(0).column(0).compression
    assert codec == {"lgm": "UNCOMPRESSED", "lgd": "ZSTD"}


def test_snapshot_retention(cat, spark):
    cat.create_table("t_ret {d}")
    sids = []
    for i in range(4):
        cat.append(
            "t_ret",
            MutationBatch(base_seq=i * 10).put("r", "d", "q", f"v{i}", ts=i + 1).to_df(spark),
        )
        sids.append(cat.snapshot("t_ret"))
    assert cat.list_snapshots("t_ret") == sids
    dropped = cat.expire_snapshots("t_ret", keep_last=2)
    assert dropped == sids[:2]
    assert cat.list_snapshots("t_ret") == sids[2:]
    # newest retained snapshot still reads
    assert {bytes(r.value) for r in cat.read_snapshot("t_ret", sids[-1]).collect()} == {b"v3"}
    cat.delete_snapshot("t_ret", sids[-1])
    assert cat.list_snapshots("t_ret") == [sids[2]]
    import pytest as _pt

    with _pt.raises(ValueError):
        cat.delete_snapshot("t_ret", "nope")


def test_snapshot_ids_sort_within_one_second(cat, spark, monkeypatch):
    """Snapshot ids taken inside one second still sort in the order
    they were taken — including two reads of the same clock value — so
    retention keeps the newest. The catalog's clock is frozen to one
    second; its nanosecond reads advance as listed."""
    import time as _time

    import tera_spark.catalog as catalog_mod

    sec = 1_790_000_000
    reads = iter(sec * 10**9 + ns for ns in (5_000, 50_000, 50_000, 700_000_000, 999_999_999))

    class OneSecondClock:
        def time_ns(self):
            return next(reads)

        def strftime(self, fmt, t=None):
            return _time.strftime(fmt, t if t is not None else _time.localtime(sec))

        def __getattr__(self, name):
            return getattr(_time, name)

    cat.create_table("t_ids {d}")
    monkeypatch.setattr(catalog_mod, "time", OneSecondClock())
    sids = []
    for i in range(5):
        cat.append(
            "t_ids",
            MutationBatch(base_seq=i * 10).put("r", "d", "q", f"v{i}", ts=i + 1).to_df(spark),
        )
        sids.append(cat.snapshot("t_ids"))
    monkeypatch.undo()
    assert len(set(sids)) == 5 and sids == sorted(sids)
    assert cat.list_snapshots("t_ids") == sids
    assert cat.expire_snapshots("t_ids", keep_last=2) == sids[:3]
    assert cat.list_snapshots("t_ids") == sids[3:]
    assert {bytes(r.value) for r in cat.read_snapshot("t_ids", sids[-1]).collect()} == {b"v4"}
    # an id of the older unpadded format sorts above same-second padded
    # ids; a new id must still land strictly above it
    old = sids[-1].split("-")[0] + "-5"
    assert catalog_mod._time_id([old]) > old
    assert catalog_mod._time_id([old, sids[-1]]) > old

def test_cli_counter_families(spark, root, capsys):
    from tera_spark.cli import main

    assert main(["--root", root, "create", "clicnt {c}"]) == 0
    # BE atomic-counter family: put_counter 3, add 2 -> 5
    assert main(["--root", root, "put_counter", "clicnt", "r", "c:n", "3", "--ts", "1"]) == 0
    assert main(["--root", root, "add", "clicnt", "r", "c:n", "2", "--ts", "2"]) == 0
    # LE int64 family: putint64 67, addint64 -3 -> 64
    assert main(["--root", root, "putint64", "clicnt", "r", "c:m", "67", "--ts", "1"]) == 0
    assert main(["--root", root, "addint64", "clicnt", "r", "c:m", "-3", "--ts", "2"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "get_counter", "clicnt", "r", "c:n"]) == 0
    out = capsys.readouterr().out
    assert out.strip().endswith(" 5")
    assert main(["--root", root, "getint64", "clicnt", "r", "c:m"]) == 0
    out = capsys.readouterr().out
    assert out.strip().endswith(" 64")
    assert main(["--root", root, "showts"]) == 0
    assert "clicnt" in capsys.readouterr().out


def test_kv_mode_table_lifecycle(cat, spark):
    import time as _t

    cat.create_table("kvt <splitsize=512>")
    assert cat.get_schema("kvt").kv_mode
    cat.kv_put("kvt", "a", b"v1")
    cat.kv_put("kvt", "a", b"v2")            # LWW overwrite
    cat.kv_put("kvt", "b", b"keep")
    cat.kv_put("kvt", "c", b"gone", ttl_s=1, now_us=int(_t.time() * 1_000_000) - 10_000_000)
    cat.kv_put("kvt", "d", b"dead")
    cat.kv_delete("kvt", "d")                # tombstone
    got = {r.key: bytes(r.value) for r in cat.view("kvt").collect()}
    assert got == {"a": b"v2", "b": b"keep"}
    # compaction folds to the same visible state and drops history
    cat.compact_inplace("kvt")
    folded = {r.key: bytes(r.value) for r in cat.view("kvt").collect()}
    assert folded == got
    assert cat.read_oplog("kvt").count() == 2
    import pytest as _pt

    with _pt.raises(ValueError):
        cat.compact_ranges("kvt")
    cat.create_table("kvt_cellmode {c}")
    with _pt.raises(ValueError):
        cat.kv_put("kvt_cellmode", "x", b"y")  # cell-mode table rejects kv ops
    # optimize + tablet_info work on kv layout (key-ranged files)
    assert cat.optimize("kvt", buckets=2) >= 1
    info = cat.tablet_info("kvt")
    assert info and info[0]["start_key"] is not None
    assert {r.key: bytes(r.value) for r in cat.view("kvt").collect()} == folded


def test_cli_kv_put_ttl(spark, root, capsys):
    from tera_spark.cli import main

    assert main(["--root", root, "create", "clikv <storage=flash>"]) == 0
    assert main(["--root", root, "put-ttl", "clikv", "k1", "hello", "3600"]) == 0
    assert main(["--root", root, "put-ttl", "clikv", "k2", "forever", "0"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "get", "clikv", "k1"]) == 0
    assert "k1 b'hello'" in capsys.readouterr().out
    assert main(["--root", root, "scan", "clikv"]) == 0
    out = capsys.readouterr().out
    assert "k1" in out and "k2" in out
    assert main(["--root", root, "delete", "clikv", "k1"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "scan", "clikv"]) == 0
    out = capsys.readouterr().out
    assert "k1" not in out and "k2" in out


def test_catalog_diff_changefeed(cat, spark, root, capsys):
    from tera_spark.cli import main

    cat.create_table("cf_diff {d <maxversions=1>}")
    cat.append(
        "cf_diff",
        MutationBatch(base_seq=0).put("r1", "d", "q", "old", ts=10).put(
            "r2", "d", "q", "keep", ts=10
        ).to_df(spark),
    )
    b = MutationBatch(base_seq=100)
    b.put("r1", "d", "q", "new", ts=20)
    b.delete_row("r2", ts=20)
    b.put("r3", "d", "q", "born", ts=20)
    cat.append("cf_diff", b.to_df(spark))

    d = {r.row_key: r.change_type for r in cat.diff("cf_diff", 99).collect()}
    assert d == {"r1": "UPDATE", "r2": "DELETE", "r3": "INSERT"}
    # bounded window: nothing changed between seq 102 and 102
    assert cat.diff("cf_diff", 102, 102).count() == 0

    assert main(["--root", root, "diff", "cf_diff", "99"]) == 0
    out = capsys.readouterr().out
    assert "r1\td:q\tUPDATE\told\tnew" in out

    cat.create_table("kv_diff <rawkey=generalkv>")
    with pytest.raises(ValueError):
        cat.diff("kv_diff", 0)


def test_register_sql_view_pivots_qualifiers(cat, spark):
    """ha_tera analog: the registered temp view exposes one column per
    qualifier and answers plain SQL over the current view."""
    cat.create_table("sqlv {p <maxversions=1>}")
    b = MutationBatch()
    b.put("u1", "p", "name", "ada", ts=1).put("u1", "p", "city", "london", ts=1)
    b.put("u2", "p", "name", "alan", ts=1).put("u2", "p", "city", "bletchley", ts=1)
    b.put("u2", "p", "name", "turing", ts=2)  # newest version wins
    cat.append("sqlv", b.to_df(spark))
    cat.register_sql_view("sqlv")
    got = {
        r.row_key: (r.name, r.city)
        for r in spark.sql("SELECT row_key, name, city FROM sqlv ORDER BY row_key").collect()
    }
    assert got == {"u1": ("ada", "london"), "u2": ("turing", "bletchley")}
    n = spark.sql("SELECT count(*) AS n FROM sqlv WHERE city LIKE 'b%'").first()["n"]
    assert n == 1


def test_cli_sql_over_pivoted_view(cat, spark, root, capsys):
    from tera_spark.cli import main

    cat.create_table("sqlcli {p}")
    b = MutationBatch()
    b.put("a", "p", "kind", "x", ts=1).put("b", "p", "kind", "y", ts=1)
    b.put("c", "p", "kind", "x", ts=1)
    cat.append("sqlcli", b.to_df(spark))
    assert main([
        "--root", root, "sql", "sqlcli",
        "SELECT kind, count(*) AS n FROM sqlcli GROUP BY kind ORDER BY kind",
    ]) == 0
    out = capsys.readouterr().out
    assert "x\t2" in out and "y\t1" in out


def test_cli_batchput_batchget(spark, tmp_path):
    from tera_spark.cli import main

    root = str(tmp_path)
    recs = tmp_path / "recs.txt"
    recs.write_text("r1 cf0:q1 hello\nr2 cf0:q1 world\nr2 cf0:q2 again\n")
    keys = tmp_path / "keys.txt"
    keys.write_text("r1\nr2\n")
    assert main(["--root", root, "create", "bt { cf0 }"]) == 0
    assert main(["--root", root, "batchput", "bt", str(recs)]) == 0
    assert main(["--root", root, "batchget", "bt", str(keys)]) == 0
    from tera_spark.catalog import Catalog

    cat = Catalog(spark, root)
    got = {
        (r.row_key, r.qualifier): bytes(r.value)
        for r in cat.view("bt").collect()
    }
    assert got == {
        ("r1", "q1"): b"hello",
        ("r2", "q1"): b"world",
        ("r2", "q2"): b"again",
    }


def test_cli_cas(spark, tmp_path):
    from tera_spark.cli import main

    root = str(tmp_path)
    assert main(["--root", root, "create", "ct { cf0 }"]) == 0
    assert main(["--root", root, "put", "ct", "r1", "cf0:q", "v0"]) == 0
    assert main(["--root", root, "cas", "ct", "r1", "cf0:q", "v0", "v1"]) == 0
    assert main(["--root", root, "cas", "ct", "r1", "cf0:q", "stale", "v2"]) == 1
    from tera_spark.catalog import Catalog

    got = Catalog(spark, root).view("ct").collect()
    assert len(got) == 1 and bytes(got[0].value) == b"v1"


def test_snapshot_rollback_seq_window(spark, tmp_path):
    """Rollback = seq-window invalidation (reference RollbackDrop):
    post-snapshot writes vanish from the view, fresh writes allocate
    above the rolled-back window, and major compaction drops the
    window physically and clears the registry."""
    from tera_spark.catalog import Catalog
    from tera_spark.client import Table
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path))
    cat.create_table("rb { cf0 }")
    t = Table(cat, "rb")
    t.apply_mutation(MutationBatch().put("r1", "cf0", "q", "v1", ts=1))
    sid = cat.snapshot("rb", now_us=10**18)
    t.apply_mutation(MutationBatch().put("r1", "cf0", "q", "v2", ts=2).put("r2", "cf0", "q", "x", ts=2))

    cat.rollback("rb", sid)
    vis = {r.row_key: bytes(r.value) for r in cat.view("rb").collect()}
    assert vis == {"r1": b"v1"}

    # a fresh write after rollback is visible (seq above the window)
    t2 = Table(cat, "rb")
    t2.apply_mutation(MutationBatch().put("r3", "cf0", "q", "new", ts=3))
    vis = {r.row_key: bytes(r.value) for r in cat.view("rb").collect()}
    assert vis == {"r1": b"v1", "r3": b"new"}

    # compaction materializes the rollback and clears the registry
    cat.compact_inplace("rb", now_us=10**18)
    assert not (tmp_path / "rb" / "rollbacks.json").exists()
    vis = {r.row_key: bytes(r.value) for r in cat.view("rb").collect()}
    assert vis == {"r1": b"v1", "r3": b"new"}


def test_find_tablet_routes_key(spark, tmp_path):
    from tera_spark.catalog import Catalog
    from tera_spark.client import Table
    from tera_spark.operators.mutation import MutationBatch
    from tera_spark.sources.tables import write_cell_table

    cat = Catalog(spark, str(tmp_path))
    cat.create_table("ft { cf0 }")
    b = MutationBatch()
    for i in range(1000):
        b.put(f"r{i:05d}", "cf0", "q", f"v{i}")
    Table(cat, "ft").apply_mutation(b)
    # re-sort into multiple range files so bounds are meaningful
    df = cat.read_oplog("ft")
    write_cell_table(df, cat.oplog_path("ft"), buckets=4)
    hits = cat.find_tablet("ft", "r00500")
    assert hits, "key not routed to any tablet"
    for h in hits:
        assert h["start_key"] <= "r00500" <= h["end_key"]
    # every tablet_info file that doesn't contain the key is excluded
    all_files = {i["file"] for i in cat.tablet_info("ft")}
    hit_files = {h["file"] for h in hits}
    assert hit_files < all_files or len(all_files) == 1


def test_erasure_workflow_tombstone_then_physical_removal(spark, tmp_path):
    """Right-to-be-forgotten: DeleteRow tombstones hide a subject
    immediately on every read path, and major compaction REMOVES the
    bytes — the raw post-compaction parquet contains neither the
    subject's row keys nor their values (tera's model: delete marks
    mask, compaction physically drops masked entries)."""
    from pyspark.sql import functions as F

    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t { A }")
    b = MutationBatch(base_seq=1)
    for i in range(20):
        b.put(f"user{i:03d}", "A", "email", f"user{i}@example.com", ts=1)
    cat.append("t", b.to_df(spark), commit_seq=20, op_kinds=b.op_kinds)

    forget = [f"user{i:03d}" for i in (3, 7, 11)]
    d = MutationBatch(base_seq=21)
    for rk in forget:
        d.delete_row(rk, ts=2)
    cat.append("t", d.to_df(spark), commit_seq=23, op_kinds=d.op_kinds)

    # masked immediately on the folded read path
    visible = {r.row_key for r in cat.view("t").collect()}
    assert visible.isdisjoint(forget) and len(visible) == 17

    # compaction = physical erasure: raw bytes no longer contain the
    # subjects (keys OR values) anywhere in the op-log
    cat.compact_inplace("t", now_us=2_000_000_000_000_000)
    raw = spark.read.parquet(str(tmp_path / "cat" / "t" / "oplog"))
    assert raw.filter(F.col("row_key").isin(forget)).count() == 0
    leaked = raw.filter(
        F.col("value").cast("string").rlike("user(3|7|11)@example.com")
    ).count()
    assert leaked == 0
    assert raw.count() == 17  # everyone else intact


def test_secondary_index_create_lookup_and_read_repair(spark, tmp_path):
    """First-class secondary indexes (the TPC-C t_*_index pattern in
    the catalog): create_index materializes value→primary-key rows as
    a normal cell table; lookup_by_value routes index → batch_get and
    RE-VERIFIES hits against live base values, so a stale index never
    returns a wrong row. Without an index the same call falls back to
    the folded full-scan filter."""
    from pyspark.sql import functions as F

    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("cust { info }")
    b = MutationBatch(base_seq=1)
    for i in range(30):
        b.put(f"u{i:03d}", "info", "segment", f"SEG{i % 3}", ts=1)
    cat.append("cust", b.to_df(spark), commit_seq=30, op_kinds=b.op_kinds)

    # no index yet: fallback full-scan filter
    hits0 = {r.row_key for r in cat.lookup_by_value("cust", "info", "segment", "SEG1").collect()}
    assert hits0 == {f"u{i:03d}" for i in range(30) if i % 3 == 1}

    idx = cat.create_index("cust", "info", "segment")
    assert cat.is_table_exist(idx)
    hits1 = {r.row_key for r in cat.lookup_by_value("cust", "info", "segment", "SEG1").collect()}
    assert hits1 == hits0

    # base moves on, index goes stale: u001 leaves SEG1 -> read-repair
    # drops the stale hit (never a wrong row; misses need a rebuild)
    b2 = MutationBatch(base_seq=31)
    b2.put("u001", "info", "segment", "SEG9", ts=2)
    cat.append("cust", b2.to_df(spark), commit_seq=31, op_kinds=b2.op_kinds)
    hits2 = {r.row_key for r in cat.lookup_by_value("cust", "info", "segment", "SEG1").collect()}
    assert hits2 == hits1 - {"u001"}

    # rebuild picks up both the removal and the new value
    cat.create_index("cust", "info", "segment")
    assert {
        r.row_key for r in cat.lookup_by_value("cust", "info", "segment", "SEG9").collect()
    } == {"u001"}


@pytest.mark.slow
def test_compact_ranges_reseeds_op_kinds_proof(spark, tmp_path):
    """ADVICE r1 (high): compact_ranges rewrites dirty groups into
    all-PUT cells, so a pure-counter table's op-kinds proof must be
    refreshed (union ∪ {PUT}) or later reads keep taking the counter
    fast fold over an oplog that now contains PUT cells — and an add()
    at a ts <= the compacted cell's ts folds incorrectly (the counter
    fold's per-ts max_by(seq) drops the compacted base)."""
    from tera_spark.catalog import Catalog
    from tera_spark.functions.codecs import py_decode_be_i64, py_encode_be_i64
    from tera_spark.model import CellOp
    from tera_spark.operators.mutation import MutationBatch
    from tera_spark.operators.view import current_view

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("cnt { c }")
    b = MutationBatch(base_seq=1)
    for i in range(10):
        b.add(f"r{i:02d}", "c", "hits", 5, ts=100)
        b.add(f"r{i:02d}", "c", "hits", 7, ts=200)
    cat.append("cnt", b.to_df(spark), commit_seq=20, op_kinds=b.op_kinds)
    assert fold_route(cat._op_kinds_union("cnt")) == "counter"

    res = cat.compact_ranges("cnt")
    assert res["groups_folded"] >= 1
    # proof refreshed: PUT recorded into the union -> general fold
    assert fold_route(cat._op_kinds_union("cnt")) == "general"

    # late add colliding with the compacted cell's ts: the general fold
    # drops an atomic at/below a PUT; the stale counter route would
    # have returned just the delta (9) instead of the folded 12
    b2 = MutationBatch(base_seq=21)
    b2.add("r00", "c", "hits", 9, ts=200)
    cat.append("cnt", b2.to_df(spark), commit_seq=21, op_kinds=b2.op_kinds)

    got = {r.row_key: r.value for r in cat.view("cnt").collect()}
    oracle = {
        r.row_key: r.value
        for r in current_view(cat.read_oplog("cnt"), cat.get_schema("cnt")).collect()
    }
    assert got == oracle
    assert py_decode_be_i64(got["r00"]) == 12
    assert got["r01"] == py_encode_be_i64(12)


def test_op_kinds_rolling_summary(spark, tmp_path):
    """ADVICE r1 (medium): the op-kinds union reads one summary file,
    not every commit record; legacy tables (records, no summary)
    derive it once and persist."""
    import json as _json

    from tera_spark.catalog import Catalog
    from tera_spark.model import CellOp
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t { f }")
    for n in range(3):
        b = MutationBatch(base_seq=10 * n + 1)
        b.put("r1", "f", f"q{n}", b"v", ts=1)
        cat.append("t", b.to_df(spark), commit_seq=10 * n + 1, op_kinds=b.op_kinds)
    summary = tmp_path / "cat" / "t" / "opkinds.json"
    assert _json.loads(summary.read_text())["kinds"] == [CellOp.PUT]
    assert fold_route(cat._op_kinds_union("t")) == "put_only"

    # legacy layout: drop the summary; the union derives from records
    # once, re-persists, and routing is unchanged
    summary.unlink()
    assert fold_route(cat._op_kinds_union("t")) == "put_only"
    assert summary.exists()

    # a record missing op_kinds (unknown writer) pins the summary to
    # unknown -> general fold
    summary.unlink()
    (tmp_path / "cat" / "t" / "commits" / "99.json").write_text('{"seq": 99}')
    assert fold_route(cat._op_kinds_union("t")) == "general"
    assert _json.loads(summary.read_text())["kinds"] is None


def test_index_binary_values_and_newest_version_verify(spark, tmp_path):
    """ADVICE r1 (low x2): index rows key by a lossless hex encoding
    (non-UTF-8 binary values index and look up correctly), and hits
    re-verify against the NEWEST version only — on a maxversions>1
    table an old version matching the target must not return the row."""
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("bin { d <maxversions=3> }")
    blob = bytes([0xFF, 0x00, 0x9C, 0x80])
    b = MutationBatch(base_seq=1)
    b.put("u1", "d", "payload", blob, ts=1)
    b.put("u2", "d", "payload", b"other", ts=1)
    cat.append("bin", b.to_df(spark), commit_seq=2, op_kinds=b.op_kinds)

    # fallback scan path on raw bytes (no decode crash, no mangling)
    assert {r.row_key for r in cat.lookup_by_value("bin", "d", "payload", blob).collect()} == {"u1"}
    cat.create_index("bin", "d", "payload")
    assert {r.row_key for r in cat.lookup_by_value("bin", "d", "payload", blob).collect()} == {"u1"}

    # u1 moves on; the old version stays VISIBLE (maxversions=3) but is
    # no longer current -> both the stale-index path and the fallback
    # must miss now
    b2 = MutationBatch(base_seq=3)
    b2.put("u1", "d", "payload", b"new", ts=2)
    cat.append("bin", b2.to_df(spark), commit_seq=3, op_kinds=b2.op_kinds)
    assert cat.lookup_by_value("bin", "d", "payload", blob).count() == 0
    (tmp_path / "cat" / "bin" / "indexes.json").unlink()
    assert cat.lookup_by_value("bin", "d", "payload", blob).count() == 0


def test_index_rebuild_swap_and_missing_table_fallback(spark, tmp_path):
    """ADVICE r1 (low): rebuilds build a fresh generation and swap the
    registration atomically (old generation dropped only after);
    a registry entry pointing at a missing table falls back to the
    scan path instead of raising."""
    import json as _json

    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("cust { info }")
    b = MutationBatch(base_seq=1)
    for i in range(6):
        b.put(f"u{i}", "info", "seg", f"S{i % 2}", ts=1)
    cat.append("cust", b.to_df(spark), commit_seq=6, op_kinds=b.op_kinds)

    gen1 = cat.create_index("cust", "info", "seg")
    gen2 = cat.create_index("cust", "info", "seg")
    assert gen1 != gen2
    assert not cat.is_table_exist(gen1)  # superseded generation dropped
    assert cat.is_table_exist(gen2)
    reg = _json.loads((tmp_path / "cat" / "cust" / "indexes.json").read_text())
    assert reg["info:seg"]["table"] == gen2
    assert reg["info:seg"]["seq"] == 6  # build watermark for incremental refresh
    assert {r.row_key for r in cat.lookup_by_value("cust", "info", "seg", "S1").collect()} == {
        "u1", "u3", "u5"
    }

    # interrupted pre-swap layout: registry points at a missing table
    (tmp_path / "cat" / "cust" / "indexes.json").write_text(
        _json.dumps({"info:seg": "cust__idx__gone"})
    )
    assert {r.row_key for r in cat.lookup_by_value("cust", "info", "seg", "S0").collect()} == {
        "u0", "u2", "u4"
    }


@pytest.mark.slow
def test_index_incremental_refresh_from_changefeed(spark, tmp_path):
    """refresh_index applies only the base table's change set to the
    index (CDC-bounded maintenance): updates retire the old-value
    entry and add the new one, inserts add, row deletes retire, and
    the refreshed index answers lookups identically to a full rebuild.
    Refresh is idempotent once caught up."""
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("cust { info }")
    b = MutationBatch(base_seq=1)
    for i in range(10):
        b.put(f"u{i:02d}", "info", "seg", f"S{i % 2}", ts=1)
    cat.append("cust", b.to_df(spark), commit_seq=10, op_kinds=b.op_kinds)
    cat.create_index("cust", "info", "seg")

    def hits(v):
        return {r.row_key for r in cat.lookup_by_value("cust", "info", "seg", v).collect()}

    assert hits("S1") == {"u01", "u03", "u05", "u07", "u09"}

    # base moves: u01 S1->S9 (update), u10 arrives in S1 (insert),
    # u03 is deleted (delete)
    b2 = MutationBatch(base_seq=11)
    b2.put("u01", "info", "seg", "S9", ts=2)
    b2.put("u10", "info", "seg", "S1", ts=2)
    b2.delete_row("u03", ts=2)
    cat.append("cust", b2.to_df(spark), commit_seq=13, op_kinds=b2.op_kinds)

    r = cat.refresh_index("cust", "info", "seg")
    assert r["changes"] > 0 and r["to_seq"] == 13

    # the index itself — not just read-repair — now finds u10 (a pure
    # stale index would MISS it: read-repair only drops wrong hits)
    assert hits("S1") == {"u05", "u07", "u09", "u10"}
    assert hits("S9") == {"u01"}

    # caught up: second refresh is a no-op
    assert cat.refresh_index("cust", "info", "seg")["changes"] == 0

    # index hygiene: the refresh's delete marks demote the index table
    # from the PUT-only fast fold (to the merge-free puts+tombstones
    # route); major compaction folds the marks away and re-upgrades it
    # — same lifecycle as any cell table
    from tera_spark.catalog import _load_indexes

    before = _load_indexes(cat, "cust")["info:seg"]["table"]
    assert fold_route(cat._op_kinds_union(before)) == "merge_free"
    cat.compact_inplace(before)
    assert fold_route(cat._op_kinds_union(before)) == "put_only"
    assert hits("S1") == {"u05", "u07", "u09", "u10"}  # unchanged by compaction

    # refreshed index ≡ full rebuild (same value->pk mapping)
    folded_inc = {
        (r.row_key, r.qualifier) for r in cat.view(before).collect()
    }
    cat.create_index("cust", "info", "seg")
    after = _load_indexes(cat, "cust")["info:seg"]["table"]
    folded_full = {
        (r.row_key, r.qualifier) for r in cat.view(after).collect()
    }
    assert folded_inc == folded_full


def test_presplit_delimiters_align_file_boundaries(spark, tmp_path, capsys):
    """CreateTable(desc, delimiters) (client.h:40-46; teracli
    createbyfile's delimiter file): declared split points persist in
    the schema and every layout job aligns file ranges to them — after
    optimize/compact no file spans a delimiter, so routing and
    per-prefix isolation hold exactly (sampled repartitionByRange
    can't promise that)."""
    from tera_spark.catalog import Catalog
    from tera_spark.cli import main
    from tera_spark.operators.mutation import MutationBatch

    delims = ["g", "n", "t"]  # 4 tablets: [..g) [g..n) [n..t) [t..)
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("pre { d }", delimiters=delims)
    assert cat.get_schema("pre").delimiters == delims

    b = MutationBatch(base_seq=1)
    import string

    for i, ch in enumerate(string.ascii_lowercase):
        b.put(f"{ch}row", "d", "q", f"v{i}", ts=1)
    cat.append("pre", b.to_df(spark), commit_seq=26, op_kinds=b.op_kinds)

    n_files = cat.optimize("pre")
    assert n_files == 4  # exactly one file per non-empty tablet
    info = cat.tablet_info("pre")
    bounds = [(i["start_key"], i["end_key"]) for i in info]

    def bucket(key):
        return sum(1 for d in delims if d <= key)

    for lo, hi in bounds:
        assert bucket(lo) == bucket(hi), f"file spans a delimiter: {lo}..{hi}"
    # every tablet holds its own keys and the data round-trips
    assert cat.view("pre").count() == 26
    assert {i["rows"] for i in info} == {6, 7}  # 6/7/6/7 split of a-z

    # compaction preserves the alignment
    cat.compact_inplace("pre")
    for i in cat.tablet_info("pre"):
        assert bucket(i["start_key"]) == bucket(i["end_key"])
    assert cat.view("pre").count() == 26

    # the createbyfile-shaped CLI path
    (tmp_path / "schema.txt").write_text("clifile { cf0 }")
    (tmp_path / "delims.txt").write_text("m\n")
    assert main([
        "--root", str(tmp_path / "cat"), "create",
        "--from-file", str(tmp_path / "schema.txt"),
        "--delimiters-file", str(tmp_path / "delims.txt"),
    ]) == 0
    out = capsys.readouterr().out
    assert "1 pre-split delimiters" in out
    assert cat.get_schema("clifile").delimiters == ["m"]


def test_scan_all_versions_cli(spark, tmp_path, capsys):
    """teracli scanallv: every retained version per column (the
    scan-time version trim lifted; tombstones still apply)."""
    from tera_spark.catalog import Catalog
    from tera_spark.cli import main
    from tera_spark.operators.mutation import MutationBatch

    root = str(tmp_path / "cat")
    cat = Catalog(spark, root)
    cat.create_table("mv { d <maxversions=2> }")
    b = MutationBatch(base_seq=1)
    for ts in (1, 2, 3):
        b.put("r1", "d", "q", f"v{ts}", ts=ts)
    cat.append("mv", b.to_df(spark), commit_seq=3, op_kinds=b.op_kinds)

    assert main(["--root", root, "scan", "mv"]) == 0
    plain = capsys.readouterr().out
    assert "v3" in plain and "v2" in plain and "v1" not in plain  # schema cap 2

    assert main(["--root", root, "scan", "mv", "--all-versions"]) == 0
    allv = capsys.readouterr().out
    assert "v3" in allv and "v2" in allv and "v1" in allv


def test_lg_compression_codec_honored(spark, tmp_path):
    """The locality-group compress= property (table_schema.proto:21)
    drives the Parquet codec of layout jobs: compress=none writes
    uncompressed files, the default writes snappy."""
    import pyarrow.parquet as pq

    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("plain { lg0 <compress=none> { d } }")
    cat.create_table("snap { lg0 <compress=snappy> { d } }")
    for t in ("plain", "snap"):
        b = MutationBatch(base_seq=1)
        for i in range(50):
            b.put(f"k{i:03d}", "d", "q", "v" * 50, ts=1)
        cat.append(t, b.to_df(spark), commit_seq=50, op_kinds=b.op_kinds)
        cat.optimize(t)

    def codecs(table):
        out = set()
        for f in (tmp_path / "cat" / table / "oplog").glob("part-*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            for rg in range(md.num_row_groups):
                out.add(md.row_group(rg).column(0).compression)
        return out

    assert codecs("plain") == {"UNCOMPRESSED"}
    assert codecs("snap") == {"SNAPPY"}


@pytest.mark.slow
def test_maintenance_policy_routes_major_minor_none(spark, tmp_path, capsys):
    """catalog.maintenance: the metadata-only "when to compact" policy
    (the reference master's size-triggered scheduling re-expressed):
    puts-only overlapping files → minor; delete-bearing history →
    major (which also re-seeds the fast-fold proof); compacted layout
    → none; pending rollback windows → major. Dry-run reports without
    touching files."""
    from tera_spark.catalog import Catalog
    from tera_spark.cli import main
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("m { d }")
    for n in range(2):  # two overlapping appends over the same key range
        b = MutationBatch(base_seq=100 * n + 1)
        for i in range(20):
            b.put(f"k{i:03d}", "d", "q", f"v{n}-{i}", ts=n + 1)
        cat.append("m", b.to_df(spark), commit_seq=100 * n + 20, op_kinds=b.op_kinds)

    # dry-run: reports minor, changes nothing
    files_before = sorted(p.name for p in (tmp_path / "cat" / "m" / "oplog").glob("*.parquet"))
    r = cat.maintenance("m", apply=False)
    assert r["action"] == "minor" and "overlapping" in r["reason"]
    assert sorted(p.name for p in (tmp_path / "cat" / "m" / "oplog").glob("*.parquet")) == files_before

    r = cat.maintenance("m")
    assert r["action"] == "minor" and r["groups_folded"] >= 1
    assert cat.view("m").count() == 20
    # the minor pass left one tiny file per key → the policy's next
    # step is a re-shard; after that the table is quiescent
    r = cat.maintenance("m")
    assert r["action"] == "optimize" and r["files"] >= 1
    assert cat.maintenance("m")["action"] == "none"
    assert cat.view("m").count() == 20

    # deletes arrive → major; afterwards the table reads PUT-only again
    b = MutationBatch(base_seq=300)
    b.delete_row("k000", ts=9)
    cat.append("m", b.to_df(spark), commit_seq=300, op_kinds=b.op_kinds)
    b = MutationBatch(base_seq=301)
    b.put("k999", "d", "q", "new", ts=9)
    cat.append("m", b.to_df(spark), commit_seq=301, op_kinds=b.op_kinds)
    r = cat.maintenance("m")
    assert r["action"] == "major"
    assert fold_route(cat._op_kinds_union("m")) == "put_only"
    assert cat.view("m").count() == 20  # k000 gone, k999 added

    # rollback window pending → major clears it
    sid = cat.snapshot("m")
    b = MutationBatch(base_seq=500)
    b.put("k998", "d", "q", "post-snap", ts=10)
    cat.append("m", b.to_df(spark), commit_seq=500, op_kinds=b.op_kinds)
    cat.rollback("m", sid)
    r = cat.maintenance("m", apply=False)
    assert r["action"] == "major" and "rolled-back" in r["reason"]
    cat.maintenance("m")
    assert not (tmp_path / "cat" / "m" / "rollbacks.json").exists()
    assert cat.view("m").count() == 20

    # the major pass wrote at the session's default parallelism (tiny
    # files at this toy scale) — the policy finishes with one re-shard
    # and then reports quiescent
    r = cat.maintenance("m")
    if r["action"] == "optimize":
        r = cat.maintenance("m")
    assert r["action"] == "none"
    assert cat.view("m").count() == 20

    # CLI surface reports the quiescent state
    assert main(["--root", str(tmp_path / "cat"), "compact", "m", "--auto", "--dry-run"]) == 0
    assert "'action': 'none'" in capsys.readouterr().out


@pytest.mark.slow
def test_snapshot_set_consistent_cut_and_restore(spark, tmp_path):
    """Cross-table consistent snapshot set: the cut (per-table commit
    watermark) is captured BEFORE any fold runs, so commits landing
    between the folds don't leak into the backup; restore rolls every
    table back to the same instant, re-joining state split across
    tables (the accounts/ledger invariant)."""
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch
    from tera_spark.operators.txn import GlobalTransaction

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("accounts { a }")
    cat.create_table("ledger { l }")
    b = MutationBatch(base_seq=1)
    b.put("alice", "a", "bal", "100", ts=1).put("bob", "a", "bal", "50", ts=1)
    cat.append("accounts", b.to_df(spark), commit_seq=2, op_kinds=b.op_kinds)
    b2 = MutationBatch(base_seq=1)
    b2.put("t0", "l", "entry", "open", ts=1)
    cat.append("ledger", b2.to_df(spark), commit_seq=1, op_kinds=b2.op_kinds)

    set_id = cat.snapshot_set(["accounts", "ledger"])

    # a cross-table transfer AFTER the cut
    txn = GlobalTransaction(cat)
    txn.put("accounts", "alice", "a", "bal", "70", ts=2)
    txn.put("accounts", "bob", "a", "bal", "80", ts=2)
    txn.put("ledger", "t1", "l", "entry", "alice->bob:30", ts=2)
    txn.commit()
    assert cat.view("ledger").count() == 2

    # the backup reflects the pre-transfer instant in BOTH tables
    snap = cat.read_snapshot_set(set_id)
    assert {r.row_key for r in snap["ledger"].collect()} == {"t0"}
    bal = {r.row_key: bytes(r.value) for r in snap["accounts"].collect()}
    assert bal == {"alice": b"100", "bob": b"50"}

    # point-in-time restore: both tables return to the cut together
    cuts = cat.restore_snapshot_set(set_id)
    assert set(cuts) == {"accounts", "ledger"}
    assert {r.row_key for r in cat.view("ledger").collect()} == {"t0"}
    live = {r.row_key: bytes(r.value) for r in cat.view("accounts").collect()}
    assert live == {"alice": b"100", "bob": b"50"}

    # post-restore writes allocate above the invalidated window
    from tera_spark.client import Table

    Table(cat, "accounts").put("carol", "a", "bal", "10", ts=3)
    live2 = {r.row_key: bytes(r.value) for r in cat.view("accounts").collect()}
    assert live2 == {"alice": b"100", "bob": b"50", "carol": b"10"}


def test_snapshotset_cli_verb(spark, tmp_path, capsys):
    from tera_spark.cli import main

    root = str(tmp_path / "cat")
    assert main(["--root", root, "create", "a {x}"]) == 0
    assert main(["--root", root, "put", "a", "r1", "x:q", "v1", "--ts", "1"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "snapshotset", "create", "a"]) == 0
    sid = capsys.readouterr().out.strip()
    assert main(["--root", root, "put", "a", "r2", "x:q", "v2", "--ts", "2"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "snapshotset", "show", sid]) == 0
    assert "a\t1 rows" in capsys.readouterr().out
    assert main(["--root", root, "snapshotset", "restore", sid]) == 0
    assert "restored to seq" in capsys.readouterr().out
    from tera_spark.catalog import Catalog

    assert {r.row_key for r in Catalog(spark, root).view("a").collect()} == {"r1"}


def test_cli_reads_hash_distributed_table(spark, tmp_path, capsys):
    """CLI get/scan on a <hash=on> table translate keys like the SDK
    (writes via put already did): user keys in, user keys out."""
    from tera_spark.cli import main

    root = str(tmp_path / "cat")
    assert main(["--root", root, "create", "h <hash=on> {d}"]) == 0
    for i in range(5):
        assert main(["--root", root, "put", "h", f"u{i}", "d:q", f"v{i}", "--ts", "1"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "get", "h", "u3"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out == ["u3 d:q @1 b'v3'"]
    # the Spark operator reads the same cells under the stored key
    from tera_spark.catalog import Catalog
    from tera_spark.functions.keys import py_hash_prefix_key

    from tests.test_seek import spark_get_map

    ref = spark_get_map(Catalog(spark, root), "h", py_hash_prefix_key("u3"))
    assert out == [
        f"u3 {cf}:{qu} @{ts} {v!r}"
        for cf, quals in ref.items() for qu, versions in quals.items() for ts, v in versions
    ]
    assert main(["--root", root, "scan", "h", "--start", "u1", "--end", "u4"]) == 0
    out = capsys.readouterr().out
    assert "u1 " in out and "u3 " in out and "u4 " not in out and "u0 " not in out


@pytest.mark.slow
def test_cli_cas_counters_batchget_on_hash_table(spark, tmp_path, capsys):
    """The remaining CLI read/CAS verbs translate keys on <hash=on>
    tables too: cas, putint64/getint64, batchget."""
    from tera_spark.cli import main

    root = str(tmp_path / "cat")
    assert main(["--root", root, "create", "h <hash=on> {d}"]) == 0
    assert main(["--root", root, "put", "h", "acct", "d:st", "open", "--ts", "1"]) == 0
    # CAS sees through the prefix
    assert main(["--root", root, "cas", "h", "acct", "d:st", "open", "closed"]) == 0
    assert main(["--root", root, "cas", "h", "acct", "d:st", "open", "reopened"]) == 1
    capsys.readouterr()
    assert main(["--root", root, "get", "h", "acct"]) == 0
    assert "closed" in capsys.readouterr().out
    # int64 verbs
    assert main(["--root", root, "putint64", "h", "n1", "d:v", "41", "--ts", "1"]) == 0
    assert main(["--root", root, "addint64", "h", "n1", "d:v", "1", "--ts", "2"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "getint64", "h", "n1", "d:v"]) == 0
    assert "42" in capsys.readouterr().out
    # batchget
    keyfile = tmp_path / "keys.txt"
    keyfile.write_text("acct\nn1\n")
    capsys.readouterr()
    assert main(["--root", root, "batchget", "h", str(keyfile)]) == 0
    out = capsys.readouterr().out  # distribution (hash) order; user keys shown
    assert "acct d:st" in out and "n1 d:v" in out


def test_kv_snapshot_rollback_and_mixed_snapshot_set(spark, tmp_path):
    """KV-mode snapshots are seq-pinned like cell snapshots, so
    rollback and cross-table snapshot sets (mixing kv and cell
    tables) restore kv state too."""
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("kvt <storage=disk>")
    cat.create_table("cells { d }")
    cat.kv_put("kvt", "k1", b"v1")
    b = MutationBatch(base_seq=1)
    b.put("r1", "d", "q", "c1", ts=1)
    cat.append("cells", b.to_df(spark), commit_seq=1, op_kinds=b.op_kinds)

    set_id = cat.snapshot_set(["kvt", "cells"])

    cat.kv_put("kvt", "k2", b"v2")
    cat.kv_delete("kvt", "k1")
    b2 = MutationBatch(base_seq=2)
    b2.put("r2", "d", "q", "c2", ts=2)
    cat.append("cells", b2.to_df(spark), commit_seq=2, op_kinds=b2.op_kinds)
    assert {r.key for r in cat.view("kvt").collect()} == {"k2"}

    snap = cat.read_snapshot_set(set_id)
    assert {r.key for r in snap["kvt"].collect()} == {"k1"}

    cat.restore_snapshot_set(set_id)
    assert {r.key for r in cat.view("kvt").collect()} == {"k1"}
    assert {r.row_key for r in cat.view("cells").collect()} == {"r1"}

    # post-restore kv writes land above the invalidated window
    cat.kv_put("kvt", "k3", b"v3")
    assert {r.key for r in cat.view("kvt").collect()} == {"k1", "k3"}

    # and kv major compaction clears the rollback registry physically
    cat.compact_inplace("kvt")
    assert {r.key for r in cat.view("kvt").collect()} == {"k1", "k3"}


def test_table_stats_rollup(spark, tmp_path, capsys):
    """catalog.table_stats / teracli stat: the metadata-only roll-up
    (files/rows/bytes, op mix, fold route, snapshots, indexes)."""
    from tera_spark.cli import main
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    root = str(tmp_path / "cat")
    cat = Catalog(spark, root)
    cat.create_table("s { d }")
    b = MutationBatch(base_seq=1)
    for i in range(10):
        b.put(f"k{i}", "d", "q", f"v{i}", ts=1)
    b.delete_row("k9", ts=2)
    cat.append("s", b.to_df(spark), commit_seq=11, op_kinds=b.op_kinds)
    cat.snapshot("s")
    cat.create_index("s", "d", "q")

    st = cat.table_stats("s")
    assert st["rows"] == 11 and st["files"] >= 1 and st["bytes"] > 0
    assert st["commit_watermark"] == 11
    assert st["op_kinds"] == ["DEL_ROW", "PUT"]
    assert st["fold_route"] == fold_route({CellOp.PUT, CellOp.DEL_ROW}) == "merge_free"
    assert st["snapshots"] == 1 and st["indexes"] == ["d:q"]
    assert st["pending_rollback_windows"] == 0

    assert main(["--root", root, "stat", "s"]) == 0
    out = capsys.readouterr().out
    assert "fold_route" in out and "DEL_ROW" in out


def test_cli_seek_scan_on_hash_table_falls_back(spark, tmp_path, capsys):
    """`scan --seek` on a <hash=on> table must not range-prune the
    prefixed layout by user keys (it would miss everything) — it falls
    back to the SDK's hash-aware scan and still answers correctly."""
    from tera_spark.cli import main

    root = str(tmp_path / "cat")
    assert main(["--root", root, "create", "h <hash=on> {d}"]) == 0
    for i in range(4):
        assert main(["--root", root, "put", "h", f"u{i}", "d:q", f"v{i}", "--ts", "1"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "scan", "h", "--start", "u1", "--end", "u3"]) == 0
    out = capsys.readouterr().out
    assert "u1 " in out and "u2 " in out and "u3 " not in out and "u0 " not in out


@pytest.mark.slow
def test_find_tablet_routes_hashed_key(spark, tmp_path):
    """findtablet on a <hash=on> table routes by the prefixed key
    (the reference hashes before its meta lookup) — the raw user key
    would fall outside every file's hashed bounds."""
    from tera_spark.catalog import Catalog
    from tera_spark.client import Table

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("h <hash=on> { d }")
    t = Table(cat, "h")
    for i in range(40):
        t.put(f"u{i:03d}", "d", "q", f"v{i}", ts=1)
    cat.optimize("h", buckets=4)
    hits = cat.find_tablet("h", "u007")
    assert len(hits) >= 1
    assert sum(i["rows"] for i in hits) < 40  # routed to a subset, not all files


def test_sql_view_and_value_lookup_strip_hash_prefix(spark, tmp_path):
    """User-facing surfaces on <hash=on> tables answer in USER keys:
    the pivoted SQL view and lookup_by_value both strip the
    distribution prefix."""
    from tera_spark.catalog import Catalog
    from tera_spark.client import Table

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("h <hash=on> { d }")
    t = Table(cat, "h")
    for i in range(6):
        t.put(f"u{i}", "d", "seg", f"S{i % 2}", ts=1)

    cat.register_sql_view("h", view_name="hv")
    rows = {r.row_key for r in spark.sql("SELECT row_key FROM hv").collect()}
    assert rows == {f"u{i}" for i in range(6)}

    hits = {r.row_key for r in cat.lookup_by_value("h", "d", "seg", "S1").collect()}
    assert hits == {"u1", "u3", "u5"}

    # and through a registered index too
    cat.create_index("h", "d", "seg")
    hits2 = {r.row_key for r in cat.lookup_by_value("h", "d", "seg", "S0").collect()}
    assert hits2 == {"u0", "u2", "u4"}


def test_cli_create_hash_num(spark, tmp_path, capsys):
    """teracli create --hash-num: pre-split a <hash=on> table into N
    equal hash-space slices (the CreateTable(desc, hash_num) overload);
    refused for non-hash schemas and alongside --delimiters-file."""
    from tera_spark.catalog import Catalog
    from tera_spark.cli import main
    from tera_spark.functions.keys import hash_delimiters

    root = str(tmp_path / "cat")
    assert main(["--root", root, "create", "hcli <hash=on> { d }", "--hash-num", "8"]) == 0
    assert "7 pre-split delimiters" in capsys.readouterr().out
    cat = Catalog(spark, root)
    assert cat.get_schema("hcli").delimiters == hash_delimiters(8)

    assert main(["--root", root, "create", "plaincli { d }", "--hash-num", "8"]) == 1
    assert "non-hash table with hash_num is invalid" in capsys.readouterr().out

    dfile = tmp_path / "delims.txt"
    dfile.write_text("m\n")
    assert main([
        "--root", root, "create", "h2 <hash=on> { d }",
        "--hash-num", "4", "--delimiters-file", str(dfile),
    ]) == 1
    assert "mutually exclusive" in capsys.readouterr().out
