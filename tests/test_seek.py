"""Seek fast path ≡ Spark scan path.

The reference keeps LowLevelSeek (src/io/tablet_io.cc:1148-1343) and
LowLevelScan (:939-1137) behavior-identical by sharing CompactStrategy;
we pin the same invariant between `operators/seek.Seeker` (driver-side
pyarrow reads + Python fold) and `operators/scan.get` / `scan` (Spark
fold) on random op-logs, plus the footer-bounds routing itself and
`Table.scan_df`'s gate between the two.
"""

from __future__ import annotations

import time

import pytest

from tera_spark.catalog import Catalog
from tera_spark.functions.codecs import (
    py_decode_be_i64,
    py_decode_le_i64,
    py_encode_be_i64,
    py_encode_le_i64,
)
from tera_spark.model import CELL_SCHEMA, CellOp
from tera_spark.operators.scan import get as spark_get
from tera_spark.operators.seek import Seeker, fold_row
from tera_spark.operators.view import current_view

from tests.test_view_model import NOW, _gen_oplog, _schema

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "cat"))


def spark_get_map(cat, table, key, **kw):
    """The Spark operator's point read (``scan.get``) of stored key
    ``key``, nested into the ToMap shape ``Table.get`` returns — the
    reference the SDK's seek-path reads are pinned to."""
    out = {}
    for r in spark_get(cat.read_oplog(table), cat.get_schema(table), key, **kw).collect():
        out.setdefault(r.cf, {}).setdefault(r.qualifier, []).append((r.ts, bytes(r.value)))
    for quals in out.values():
        for versions in quals.values():
            versions.sort(key=lambda tv: -tv[0])
    return out


def _mk_table(cat, spark, rows, name="seek_t"):
    cat.create_table(
        f"{name} {{cf0 <maxversions=1>, cf1 <maxversions=3>, "
        f"cfttl <maxversions=2,ttl=1000>}}"
    )
    # three appends → three op-log files (multi-tablet layout)
    third = len(rows) // 3 or 1
    for i in range(0, len(rows), third):
        cat.append(name, spark.createDataFrame(rows[i : i + third], CELL_SCHEMA))
    return name


@pytest.mark.parametrize("seed", [1, 7, pytest.param(42, marks=pytest.mark.slow)])
def test_seek_matches_spark_fold(cat, spark, seed):
    rows = _gen_oplog(seed, n=400)
    name = _mk_table(cat, spark, rows, name=f"seek_{seed}")
    oplog = cat.read_oplog(name)
    schema = cat.get_schema(name)

    want = {}
    for r in current_view(oplog, schema, now_us=NOW).collect():
        want.setdefault(r.row_key, set()).add(
            (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value))
        )

    seeker = Seeker(cat, name)
    keys = sorted({r[0] for r in rows}) + ["row_missing"]
    got = seeker.multi_get(keys, now_us=NOW)
    assert "row_missing" not in got
    got_sets = {k: {(c[0], c[1], c[2], c[3], bytes(c[4])) for c in v} for k, v in got.items()}
    assert got_sets == want


# PUT merge bases that are not 8 bytes long: empty, short (with the
# sign bit set) and long — the codecs' width rule (functions/codecs.py)
_ODD_BASES = [b"", b"\xff", b"\x01\x02\x03", b"\x80" + bytes(range(1, 9)), bytes(range(1, 13))]


@pytest.mark.parametrize("kind", [CellOp.ADD, CellOp.ADDINT64])
def test_seek_matches_spark_fold_on_odd_width_counter_bases(cat, spark, kind):
    enc = py_encode_be_i64 if kind == CellOp.ADD else py_encode_le_i64
    rows = []
    for i, base in enumerate(_ODD_BASES):
        rk = f"r{i}"
        rows.append((rk, "cf0", "n", 1, CellOp.PUT, base, 10 * i))
        rows.append((rk, "cf0", "n", 2, kind, enc(1), 10 * i + 1))
        rows.append((rk, "cf0", "n", 3, kind, enc(-3), 10 * i + 2))
    name = _mk_table(cat, spark, rows, name=f"seek_odd_{kind}")
    want = {
        r.row_key: bytes(r.value)
        for r in current_view(cat.read_oplog(name), cat.get_schema(name), now_us=NOW).collect()
    }
    got = {
        k: bytes(cells[0][4])
        for k, cells in Seeker(cat, name).multi_get(sorted(want), now_us=NOW).items()
    }
    assert got == want and len(got) == len(_ODD_BASES)
    dec = py_decode_be_i64 if kind == CellOp.ADD else py_decode_le_i64
    if kind == CellOp.ADD:  # zero-extended: b"\xff" is 255, not -1
        assert dec(got["r1"]) == 255 - 2
    else:  # the left pad lands in the low bytes: b"\xff" is -2**56
        assert dec(got["r1"]) == -(1 << 56) - 2
    assert dec(got["r0"]) == -2  # empty base reads 0


@pytest.mark.slow
def test_seek_scan_level_options_match(cat, spark):
    rows = _gen_oplog(99, n=400)
    name = _mk_table(cat, spark, rows, name="seek_opts")
    oplog = cat.read_oplog(name)
    schema = cat.get_schema(name)
    seeker = Seeker(cat, name)
    key = sorted({r[0] for r in rows})[3]

    for kw in (
        dict(columns={"cf1": ["log"], "cf0": []}),
        dict(max_versions=1),
        dict(ts_range=(NOW - 40, NOW - 10)),
        dict(columns={"cf1": []}, max_versions=2, ts_range=(NOW - 50, NOW)),
    ):
        want = {
            (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value))
            for r in spark_get(oplog, schema, key, now_us=NOW, **kw).collect()
        }
        got = {
            (c[0], c[1], c[2], c[3], bytes(c[4]))
            for c in seeker.get(key, now_us=NOW, **kw)
        }
        assert got == want, kw


def test_seek_snapshot_and_rollback(cat, spark):
    rows = _gen_oplog(5, n=300)
    name = _mk_table(cat, spark, rows, name="seek_snap")
    schema = cat.get_schema(name)
    seeker = Seeker(cat, name)
    key = sorted({r[0] for r in rows})[0]
    snap_seq = 150

    want = {
        (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value))
        for r in spark_get(
            cat.read_oplog(name), schema, key, now_us=NOW
        ).collect()
    }
    # snapshot read: only writes with seq <= 150 visible
    v0 = current_view(cat.read_oplog(name), schema, now_us=NOW, snapshot_seq=snap_seq)
    want_snap = {
        (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value))
        for r in v0.filter(v0.row_key == key).collect()
    }
    got_snap = {
        (c[0], c[1], c[2], c[3], bytes(c[4]))
        for c in seeker.get(key, now_us=NOW, snapshot_seq=snap_seq)
    }
    assert got_snap == want_snap
    got_full = {
        (c[0], c[1], c[2], c[3], bytes(c[4])) for c in seeker.get(key, now_us=NOW)
    }
    assert got_full == want


@pytest.mark.slow
def test_footer_routing_prunes_files(cat, spark):
    cat.create_table("seek_route {cf0}")
    for prefix in ("a", "m", "z"):
        batch = [
            (f"{prefix}{i:03d}", "cf0", "q", 100 + i, CellOp.PUT, f"v{i}".encode(), i)
            for i in range(50)
        ]
        cat.append("seek_route", spark.createDataFrame(batch, CELL_SCHEMA).coalesce(1))
    seeker = Seeker(cat, "seek_route")
    plan = seeker._route(["z010"])
    # footer bounds route the key to exactly the one file holding z-keys
    assert len(plan) == 1
    assert seeker.get("z010")[0][4] == b"v10"
    # the seeker routes by its catalog's op-log index, one entry per file
    assert seeker._index is cat.oplog_index("seek_route")
    assert len(seeker._index.files()) >= 3


def test_get_kv_fast_path(cat, spark):
    cat.create_table("seek_kv")
    cat.kv_put("seek_kv", "k1", b"old")
    cat.kv_put("seek_kv", "k1", b"new")
    cat.kv_put("seek_kv", "k2", b"gone")
    cat.kv_delete("seek_kv", "k2")
    cat.kv_put("seek_kv", "k3", b"short", ttl_s=1)
    seeker = Seeker(cat, "seek_kv")
    assert seeker.get_kv("k1") == b"new"
    assert seeker.get_kv("k2") is None
    far_future = 4_000_000_000_000_000
    assert seeker.get_kv("k3", now_us=far_future) is None
    with pytest.raises(ValueError):
        seeker.multi_get(["k1"])

    # KvTable.get ≡ the Spark fold (kv_current_view), key by key, at a
    # horizon where the 1-hour TTL key lives and at one where it is gone
    from tera_spark.client import KvTable
    from tera_spark.operators.view import kv_current_view

    cat.kv_put("seek_kv", "k4", b"hour", ttl_s=3600)
    kv = KvTable(cat, "seek_kv")
    assert kv.get("k4") == b"hour" and kv.get("k4", now_us=far_future) is None
    for now in (int(time.time() * 1_000_000), far_future):
        want = {
            r.key: bytes(r.value)
            for r in kv_current_view(cat.read_oplog("seek_kv"), now_us=now).collect()
        }
        for key in ("k1", "k2", "k3", "k4", "missing"):
            assert kv.get(key, now_us=now) == want.get(key), (key, now)
    assert want == {"k1": b"new"}  # far future: both TTL keys gone


def test_fold_row_empty_and_marks_only():
    assert fold_row([], _schema(), now_us=NOW) == []
    marks = [("r", "", "", 10, CellOp.DEL_ROW, None, 0)]
    assert fold_row(marks, _schema(), now_us=NOW) == []


@pytest.mark.slow
def test_client_and_cli_seek_paths(cat, spark, capsys):
    from tera_spark.client import Client

    client = Client(spark, str(cat.root))
    client.create_table("sdk_seek {c <maxversions=2>}")
    t = client.open_table("sdk_seek")
    t.put("r1", "c", "q", b"v1", ts=10)
    t.put("r1", "c", "q", b"v2", ts=20)
    t.put("r2", "c", "q", b"other", ts=5)
    assert t.get("r1") == spark_get_map(cat, "sdk_seek", "r1")
    assert t.get("r1") == {"c": {"q": [(20, b"v2"), (10, b"v1")]}}

    # CLI get prints the same cells, newest first
    from tera_spark.cli import main as cli_main

    rc = cli_main(["--root", str(cat.root), "get", "sdk_seek", "r1"])
    out = capsys.readouterr().out.splitlines()
    assert rc == 0 and out == ["r1 c:q @20 b'v2'", "r1 c:q @10 b'v1'"]


@pytest.mark.slow
def test_scan_range_matches_spark_scan(cat, spark):
    from tera_spark.operators.scan import ScanDescriptor, scan

    rows = _gen_oplog(13, n=400)
    name = _mk_table(cat, spark, rows, name="seek_scan")
    oplog = cat.read_oplog(name)
    schema = cat.get_schema(name)
    seeker = Seeker(cat, name)

    for desc in (
        ScanDescriptor(start="row02", end="row07"),
        ScanDescriptor(start="row05"),
        ScanDescriptor(end="row03", max_versions=1),
        ScanDescriptor(start="row00", end="row09", ts_start=NOW - 40, ts_end=NOW),
    ):
        want = {
            (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value))
            for r in scan(oplog, schema, desc, now_us=NOW).collect()
        }
        got = seeker.scan_range(
            desc.start,
            desc.end,
            max_versions=desc.max_versions,
            ts_range=(desc.ts_start, desc.ts_end) if desc.ts_start else None,
            now_us=NOW,
        )
        assert {(c[0], c[1], c[2], c[3], bytes(c[4])) for c in got} == want

    # ordered emission + number_limit truncates deterministically
    full = list(seeker.scan_range(now_us=NOW))
    assert [c[0] for c in full] == sorted(c[0] for c in full)
    assert list(seeker.scan_range(now_us=NOW, number_limit=5)) == full[:5]


def test_cli_scan_seek(cat, spark, capsys):
    from tera_spark.client import Client
    from tera_spark.cli import main as cli_main

    client = Client(spark, str(cat.root))
    client.create_table("cli_scan {c}")
    t = client.open_table("cli_scan")
    for i in range(5):
        t.put(f"r{i}", "c", "q", f"v{i}".encode(), ts=1)
    rc = cli_main(["--root", str(cat.root), "scan", "cli_scan",
                   "--start", "r1", "--end", "r4"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    assert [l.split()[0] for l in out] == ["r1", "r2", "r3"]


@pytest.mark.slow
def test_multi_get_matches_batch_get(cat, spark):
    from tera_spark.client import Client

    client = Client(spark, str(cat.root))
    client.create_table("route_t {c <maxversions=2>}")
    t = client.open_table("route_t")
    for i in range(8):
        t.put(f"r{i}", "c", "q", f"v{i}".encode(), ts=1)
    t.put("r2", "c", "q", b"v2b", ts=2)

    few = t.multi_get(["r1", "r3"])
    assert {k: [c[4] for c in v] for k, v in few.items()} == {
        "r1": [b"v1"], "r3": [b"v3"],
    }
    # the client-side batch equals the distributed DataFrame form
    many = [f"r{i}" for i in range(8)] + ["missing"]
    want = {}
    for r in t.batch_get(many).collect():
        want.setdefault(r.row_key, []).append(
            (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value))
        )
    for cells in want.values():
        cells.sort(key=lambda c: (c[1], c[2], -c[3]))
    got = t.multi_get(many)
    assert got == want and "missing" not in got
    assert [c[4] for c in got["r2"]] == [b"v2b", b"v2"]


def test_per_cell_ttl_view_compact_seek(cat, spark):
    """RowMutation::Put(value, ttl) — per-cell TTL on top of CF TTL
    (mutation.h:30-33): visibility at read, survival through
    compaction, and seek-path agreement."""
    import time as _t

    from tera_spark.client import Client

    client = Client(spark, str(cat.root))
    client.create_table("ttl_t {c}")
    t = client.open_table("ttl_t")
    t.put("r1", "c", "q", b"eternal", ts=1)
    t.put("r2", "c", "q", b"fresh", ts=1, ttl_s=24 * 3600)
    t.put("r3", "c", "q", b"stale", ts=1, ttl_s=60)
    # generous horizons so slow boxes can't race the clock: the puts
    # stamp expiry at commit wall time, checks sit 30 min / 48 h out
    now = int(_t.time() * 1_000_000)
    soon = now + 30 * 60 * 1_000_000
    later = now + 48 * 3600 * 1_000_000

    def visible(now_us):
        return {r.row_key for r in cat.view("ttl_t", now_us=now_us).collect()}

    assert visible(soon) == {"r1", "r2"}                   # r3 already expired
    assert visible(later) == {"r1"}                        # r2 expires too

    # seek path agrees on both horizons
    seeker = Seeker(cat, "ttl_t")
    assert set(seeker.multi_get(["r1", "r2", "r3"], now_us=soon)) == {"r1", "r2"}
    assert set(seeker.multi_get(["r1", "r2", "r3"], now_us=later)) == {"r1"}
    assert {c[0] for c in seeker.scan_range(now_us=later)} == {"r1"}

    # compaction preserves the pending expiry: r2 folds in as live,
    # but still vanishes once its TTL fires
    cat.compact_inplace("ttl_t", now_us=soon)
    assert visible(soon + 60 * 1_000_000) == {"r1", "r2"}
    assert visible(later) == {"r1"}


@pytest.mark.parametrize("seed", [3, pytest.param(21, marks=pytest.mark.slow)])
def test_seek_matches_spark_fold_with_random_ttl(cat, spark, seed):
    """Cross-path property check including per-cell TTL: random
    op-logs where puts carry expire_ts in {past, future, NULL} must
    fold identically through the Spark view and the seek path."""
    import random

    from tera_spark.model import CELL_TTL_SCHEMA

    rng = random.Random(seed)
    rows = []
    for base in _gen_oplog(seed, n=300):
        exp = None
        if base[4] == CellOp.PUT and rng.random() < 0.4:
            exp = NOW - 5 if rng.random() < 0.5 else NOW + 10_000_000
        rows.append(base + (exp,))
    name = f"seek_ttl_{seed}"
    cat.create_table(
        f"{name} {{cf0 <maxversions=1>, cf1 <maxversions=3>, "
        f"cfttl <maxversions=2,ttl=1000>}}"
    )
    third = len(rows) // 3 or 1
    for i in range(0, len(rows), third):
        cat.append(name, spark.createDataFrame(rows[i : i + third], CELL_TTL_SCHEMA))

    want = {}
    for r in cat.view(name, now_us=NOW).collect():
        want.setdefault(r.row_key, set()).add(
            (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value))
        )
    got = Seeker(cat, name).multi_get(sorted({r[0] for r in rows}), now_us=NOW)
    got_sets = {
        k: {(c[0], c[1], c[2], c[3], bytes(c[4])) for c in v} for k, v in got.items()
    }
    assert got_sets == want


def test_seek_sees_online_schema_change(spark, tmp_path):
    """A Table's seeker is built with the Table; an update_schema after
    that must still apply to its next read, as on the Spark path."""
    from tera_spark.client import Client
    from tera_spark.registry import parse_schema_string

    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("t { d <maxversions=1> }")
    t = c.open_table("t")
    t.put("r", "d", "q", "v1", ts=1)
    t.put("r", "d", "q", "v2", ts=2)
    assert [v for _, v in t.get("r")["d"]["q"]] == [b"v2"]
    c.catalog.update_schema(parse_schema_string("t { d <maxversions=3> }"))
    want = [(2, b"v2"), (1, b"v1")]
    assert t.get("r")["d"]["q"] == want
    assert t.get("r") == spark_get_map(c.catalog, "t", "r")


def test_seek_reads_through_same_name_rewrite(spark, tmp_path):
    """optimize() on a pre-split table rewrites its files under the
    same names; a long-lived Table and a cached path Seeker must read
    the rewritten rows, not the row groups they read before."""
    from tera_spark.client import Client

    c = Client(spark, str(tmp_path / "cat"))
    c.catalog.create_table("t { d }", delimiters=["m"])
    t = c.open_table("t")
    seeker = Seeker(path=c.catalog.oplog_path("t"), schema=c.catalog.get_schema("t"))
    names = []
    for ts, v in enumerate((b"v1", b"v2"), start=1):
        t.put("a", "d", "q", v, ts=ts)
        c.catalog.optimize("t")
        names.append(sorted(i["file"] for i in c.catalog.tablet_info("t")))
        assert t.get("a")["d"]["q"] == [(ts, v)]
        assert [cell[4] for cell in seeker.get("a")] == [v]
    assert names[0] == names[1]  # the second optimize reused the names


# --- paged scans: Table.scan / KvTable.scan through the seek path ------


def _scan_oplog(seed: int, n: int = 600) -> list[tuple]:
    """``_gen_oplog`` spread over 40 row keys, with one ts per op (so a
    version cap has no ties) and a per-cell TTL on some PUTs."""
    import random

    rng = random.Random(seed)
    rows = []
    for rk, cf, qu, ts, op, val, seq in _gen_oplog(seed, n=n):
        rk = f"row{int(rk[3:]) * 4 + seq % 4:02d}"
        ts = NOW - (NOW - ts) * 1000 + seq if ts > NOW // 2 else ts * 1000 + seq
        exp = None
        if op == CellOp.PUT and rng.random() < 0.2:
            exp = NOW - 5 if rng.random() < 0.5 else NOW + 10_000_000
        rows.append((rk, cf, qu, ts, op, val, seq, exp))
    return rows


def _paged_table(client, rows, name: str):
    """A catalog table over ``rows`` in three legacy op-log files of
    many small row groups, with overlapping key ranges: a scan crosses
    many pages and carries rows over between them."""
    import pyarrow.parquet as pq

    from tera_spark.model import CELL_TTL_SCHEMA, arrow_table

    client.create_table(
        f"{name} {{cf0 <maxversions=1>, cf1 <maxversions=3>, "
        f"cfttl <maxversions=2,ttl=1000>}}"
    )
    oplog = client.catalog.oplog_path(name)
    for i, group in enumerate((8, 20, 1000)):
        part = arrow_table([r for r in rows if r[6] % 3 == i], CELL_TTL_SCHEMA)
        pq.write_table(part, f"{oplog}/part-{i:05d}.parquet", row_group_size=group)
    return client.open_table(name)


def _cells(rows) -> list[tuple]:
    return [(r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value)) for r in rows]


def _scan_order(cells: list[tuple]) -> list[tuple]:
    return sorted(cells, key=lambda c: (c[0], c[1], c[2], -c[3]))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("seed", [11, pytest.param(12, marks=pytest.mark.slow)])
def test_table_scan_pages_match_scan_df(spark, tmp_path, monkeypatch, seed):
    """Table.scan (the paged seek-path scan, a page of 10 op-log rows),
    scan_df's local route and its Spark route (forced by a gate of 0
    rows) ≡ the Spark scan operator over the op-log: versions,
    row/family/qualifier tombstones, cf and per-cell TTL, every
    scan-level option, snapshots and number_limit (the default-set seed
    runs every third case). Both routes have one schema."""
    from tera_spark import client as client_mod
    from tera_spark.client import Client
    from tera_spark.operators import seek
    from tera_spark.operators.scan import ScanDescriptor, scan

    monkeypatch.setattr(seek, "_PAGE_ROWS", 10)
    c = Client(spark, str(tmp_path / "cat"))
    t = _paged_table(c, _scan_oplog(seed), "paged")
    cat = c.catalog
    assert len(t._seeker._index.groups()) >= 30
    cases = [
        (None, None),
        (ScanDescriptor(start="row05", end="row31"), None),
        (ScanDescriptor(start="row20"), 300),
        (ScanDescriptor(columns={"cf1": ["log", "cnt"], "cf0": []}), None),
        (ScanDescriptor(column_families=["cfttl"], columns={"cf1": ["txt"]}), None),
        (ScanDescriptor(end="row17", max_versions=1, max_qualifiers=2), None),
        (ScanDescriptor(ts_start=NOW - 40_000, ts_end=NOW - 10_000), None),
        (ScanDescriptor(start="row03", number_limit=17), None),
        (ScanDescriptor(number_limit=9, max_versions=2), 450),
    ]
    for desc, snap in cases[::3] if seed == 11 else cases:
        want = _scan_order(_cells(scan(
            cat.read_oplog("paged"), cat.current_schema("paged"), desc,
            now_us=NOW, snapshot_seq=snap,
        ).collect()))
        assert _cells(t.scan(desc, now_us=NOW, snapshot_seq=snap)) == want, (desc, snap)
        local = t.scan_df(desc, now_us=NOW, snapshot_seq=snap)
        assert "LocalTableScan" in _plan(local) and "FileScan" not in _plan(local)
        assert _cells(local.collect()) == want, (desc, snap)  # scan order kept
        with monkeypatch.context() as m:
            m.setattr(client_mod, "_LOCAL_SCAN_ROWS", 0)
            on_spark = t.scan_df(desc, now_us=NOW, snapshot_seq=snap)
        assert "FileScan" in _plan(on_spark)
        assert on_spark.schema == local.schema
        assert _scan_order(_cells(on_spark.collect())) == want, (desc, snap)
        assert want or desc is None or desc.number_limit is None


def test_scan_df_route_gate(spark, tmp_path, monkeypatch):
    """scan_df reads a range locally while its routed op-log rows are
    at most ``_LOCAL_SCAN_ROWS`` and its routed bytes below
    ``SCALE_GATE_BYTES``; over either bound, and on any <hash=on>
    table, it plans the Spark FileScan. The catalog counts the routes."""
    from tera_spark import client as client_mod
    from tera_spark import plans
    from tera_spark.client import Client
    from tera_spark.operators.scan import ScanDescriptor

    c = Client(spark, str(tmp_path / "cat"))
    t = _paged_table(c, _scan_oplog(11), "paged")
    desc = ScanDescriptor(start="row05", end="row12")
    rows, size = t._seeker.range_size(desc.start, desc.end)
    assert 0 < rows < t._seeker.range_size(None, None)[0] and size > 0

    def route(rows_gate, bytes_gate) -> str:
        with monkeypatch.context() as m:
            m.setattr(client_mod, "_LOCAL_SCAN_ROWS", rows_gate)
            m.setattr(plans, "SCALE_GATE_BYTES", bytes_gate)
            plan = _plan(t.scan_df(desc))
        assert ("FileScan" in plan) != ("LocalTableScan" in plan), plan
        return "spark" if "FileScan" in plan else "local"

    assert route(rows, size + 1) == "local"
    assert route(rows - 1, size + 1) == "spark"
    assert route(rows, size) == "spark"
    assert c.catalog.scan_df_routes == {"local": 1, "spark": 2}

    c.create_table("h <hash=on> { d }")
    h = c.open_table("h")
    h.put("u1", "d", "q", "v")
    assert "FileScan" in _plan(h.scan_df(ScanDescriptor(start="u0", end="u2")))
    assert c.catalog.scan_df_routes == {"local": 1, "spark": 3}


@pytest.mark.slow
def test_hash_table_scan_orders_user_keys(spark, tmp_path):
    """On a <hash=on> table Table.scan is the sorted scan_df (storage is
    hash order); ranges and number_limit apply in user-key order."""
    from tera_spark.client import Client
    from tera_spark.operators.scan import ScanDescriptor

    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("h <hash=on> { d <maxversions=2> }")
    t = c.open_table("h")
    for i in range(12):
        t.put(f"u{i:02d}", "d", "q", f"v{i}", ts=1)
        t.put(f"u{i:02d}", "d", "q", f"w{i}", ts=2)
    full = _scan_order(_cells(t.scan_df().collect()))
    assert _cells(t.scan()) == full and [c[0] for c in full[:2]] == ["u00", "u00"]
    for desc in (
        ScanDescriptor(start="u03", end="u07"),
        ScanDescriptor(number_limit=5),
        ScanDescriptor(start="u04", end="u09", number_limit=3),
    ):
        want = [
            c for c in full
            if (desc.start is None or c[0] >= desc.start) and (desc.end is None or c[0] < desc.end)
        ][: desc.number_limit]
        assert _cells(t.scan(desc)) == want, desc


def test_kv_scan_matches_kv_current_view(spark, tmp_path, monkeypatch):
    """KvTable.scan pages through the seek path and equals the Spark
    KV fold: newest write wins, tombstones and expired TTLs hide."""
    from tera_spark.client import Client
    from tera_spark.operators import seek
    from tera_spark.operators.view import kv_current_view

    monkeypatch.setattr(seek, "_PAGE_ROWS", 2)
    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("kv")
    kv = c.open_table("kv")
    for i in range(8):
        kv.put(f"k{i}", f"v{i}")
    kv.put("k2", "v2b")
    kv.delete("k3")
    kv.put("k5", "short", ttl_s=1)
    kv.put("k6", "hour", ttl_s=3600)
    later = int(time.time() * 1_000_000) + 600 * 1_000_000
    for start, end in ((None, None), ("k2", "k6")):
        oplog = c.catalog.read_oplog("kv")
        if start is not None:
            oplog = oplog.filter((oplog.key >= start) & (oplog.key < end))
        want = sorted(
            (r.key, bytes(r.value), r.expire_ts)
            for r in kv_current_view(oplog, now_us=later).collect()
        )
        got = [(r.key, bytes(r.value), r.expire_ts) for r in kv.scan(start, end, now_us=later)]
        assert got == want
    assert [r.key for r in kv.scan(now_us=later)] == ["k0", "k1", "k2", "k4", "k6", "k7"]


def test_table_scan_reads_only_the_first_page(spark, tmp_path, monkeypatch):
    """The first cell of a full-table scan over 25 row groups reads
    only the first page's groups."""
    import pyarrow.parquet as pq

    from tera_spark.client import Client
    from tera_spark.model import CELL_SCHEMA, arrow_table
    from tera_spark.operators import seek

    monkeypatch.setattr(seek, "_PAGE_ROWS", 8)
    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("lazy { d }")
    rows = [(f"r{i:03d}", "d", "q", 1, CellOp.PUT, b"v", i) for i in range(100)]
    pq.write_table(
        arrow_table(rows, CELL_SCHEMA), f"{c.catalog.oplog_path('lazy')}/part-00000.parquet",
        row_group_size=4,
    )
    t = c.open_table("lazy")
    assert len(t._seeker._index.groups()) == 25
    reads = []
    group = Seeker._group
    monkeypatch.setattr(Seeker, "_group", lambda self, *a: reads.append(a[1]) or group(self, *a))
    it = t.scan()
    assert next(it).row_key == "r000"
    assert sorted(reads) == [0, 1]
    assert [r.row_key for r in it] == [f"r{i:03d}" for i in range(1, 100)]
    assert len(reads) == 25
