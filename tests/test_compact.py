"""Compaction invariant: compact-then-read ≡ read (the reference's
Drop vs ScanDrop shared-logic property), pinned on randomized op-logs.
"""

from __future__ import annotations

import pytest

import random

from tera_spark.functions.codecs import py_encode_be_i64, py_encode_le_i64
from tera_spark.model import CELL_SCHEMA, CellOp
from tera_spark.operators.compact import compact
from tera_spark.operators.mutation import MutationBatch
from tera_spark.operators.view import current_view
from tera_spark.registry import TableSchema

NOW = 2_000_000_000_000_000


def _random_oplog(seed: int, n: int = 400):
    rng = random.Random(seed)
    rows = []
    ops = [
        (CellOp.PUT, 60), (CellOp.DEL_ROW, 2), (CellOp.DEL_FAMILY, 3),
        (CellOp.DEL_QUALIFIERS, 4), (CellOp.DEL_QUALIFIER, 4),
        (CellOp.ADD, 10), (CellOp.ADDINT64, 5), (CellOp.PUT_IFABSENT, 6),
        (CellOp.APPEND, 6),
    ]
    weighted = [op for op, w in ops for _ in range(w)]
    for seq in range(n):
        op = rng.choice(weighted)
        rk = f"row{rng.randrange(12):03d}"
        cf = rng.choice(["cf0", "cf1"])
        qu = rng.choice(["a", "b", "c", ""])
        ts = rng.randrange(1, 60)
        if op == CellOp.PUT:
            val = f"v{seq}".encode()
        elif op == CellOp.ADD:
            val = py_encode_be_i64(rng.randrange(-5, 10))
        elif op == CellOp.ADDINT64:
            val = py_encode_le_i64(rng.randrange(-5, 10))
        elif op in (CellOp.PUT_IFABSENT, CellOp.APPEND):
            val = f"x{seq % 7}".encode()
        else:
            val = None
        if op == CellOp.DEL_ROW:
            cf, qu = "", ""
        elif op == CellOp.DEL_FAMILY:
            qu = ""
        rows.append((rk, cf, qu, ts, op, val, seq))
    return rows


def _schema():
    t = TableSchema("t")
    t.add_column_family("cf0", max_versions=1)
    t.add_column_family("cf1", max_versions=3)
    return t


def _canon(df):
    return sorted(
        (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value) if r.value is not None else None)
        for r in df.collect()
    )


@pytest.mark.slow
def test_compact_view_equivalence_randomized(spark):
    for seed in (7, 42, 1337):
        cells = spark.createDataFrame(_random_oplog(seed), CELL_SCHEMA)
        schema = _schema()
        direct = _canon(current_view(cells, schema, now_us=NOW))
        compacted = compact(cells, schema, now_us=NOW)
        after = _canon(current_view(compacted, schema, now_us=NOW))
        assert direct == after, f"seed {seed}: compact≢view"


def test_compact_idempotent(spark):
    cells = spark.createDataFrame(_random_oplog(99), CELL_SCHEMA)
    schema = _schema()
    c1 = compact(cells, schema, now_us=NOW)
    c2 = compact(c1, schema, now_us=NOW)
    assert _canon(c1) == _canon(c2)


def test_mutation_batch_roundtrip(spark):
    b = MutationBatch()
    b.put("r1", "cf0", "q", "hello", ts=10)
    b.add("r2", "cf0", "n", 5, ts=11)
    b.add("r2", "cf0", "n", 7, ts=12)
    b.delete_row("r3", ts=99)
    b.append("r4", "cf1", "log", "a", ts=1).append("r4", "cf1", "log", "b", ts=2)
    df = b.to_df(spark)
    v = current_view(df, _schema(), now_us=NOW)
    got = {(r.row_key, r.qualifier): bytes(r.value) for r in v.collect()}
    assert got[("r1", "q")] == b"hello"
    assert got[("r4", "log")] == b"ab"
    assert py_encode_be_i64(12) == got[("r2", "n")]


def test_check_and_apply(spark):
    from tera_spark.operators.mutation import check_and_apply

    base = MutationBatch().put("r1", "cf0", "q", "old", ts=10).to_df(spark)
    ok = check_and_apply(
        base, _schema(), "r1", "cf0", "q", "old",
        MutationBatch(base_seq=100).put("r1", "cf0", "q", "new", ts=20), now_us=NOW
    )
    assert ok is not None
    merged = current_view(base.unionByName(ok), _schema(), now_us=NOW)
    assert bytes(merged.collect()[0].value) == b"new"
    # CAS failure: expected doesn't match
    bad = check_and_apply(
        base, _schema(), "r1", "cf0", "q", "nope",
        MutationBatch().put("r1", "cf0", "q", "x", ts=30), now_us=NOW
    )
    assert bad is None


def test_compact_ranges_folds_only_dirty_groups(spark, tmp_path):
    """Selective compaction: overlapping/dirty row-range groups fold,
    clean disjoint files survive untouched, the view is unchanged."""
    from tera_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cr_cat"))
    cat.create_table("t { cf0 <maxversions=1> }")

    # group A (dirty): two appends overlap on the a* range, with a delete
    b1 = MutationBatch(base_seq=1)
    for i in range(4):
        b1.put(f"a{i}", "cf0", "q", f"v{i}", ts=100)
    cat.append("t", b1.to_df(spark))
    b2 = MutationBatch(base_seq=10)
    b2.put("a1", "cf0", "q", "v1-new", ts=200)
    b2.delete_column("a2", "cf0", "q", ts=300)
    cat.append("t", b2.to_df(spark))
    # group B (clean): disjoint z* range, PUTs only, single file
    b3 = MutationBatch(base_seq=20)
    for i in range(3):
        b3.put(f"z{i}", "cf0", "q", f"w{i}", ts=100)
    cat.append("t", b3.to_df(spark))

    before = {
        (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value))
        for r in cat.view("t", now_us=NOW).collect()
    }
    clean_files = {
        i["file"]
        for i in cat.tablet_info("t")
        if i["start_key"] is not None and i["start_key"].startswith("z")
    }
    assert clean_files

    stats = cat.compact_ranges("t", now_us=NOW)
    assert stats["groups_folded"] >= 1 and stats["files_folded"] >= 2

    after_files = {i["file"] for i in cat.tablet_info("t")}
    assert clean_files <= after_files  # clean group untouched
    after = {
        (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value))
        for r in cat.view("t", now_us=NOW).collect()
    }
    assert after == before  # compact ≡ view, restricted to folded ranges

    # folded group is now all-PUT single range: a second pass is a no-op
    stats2 = cat.compact_ranges("t", now_us=NOW)
    assert stats2["files_folded"] == 0


def test_compact_ranges_put_tombstone_group_equals_general_fold(spark, tmp_path, monkeypatch):
    """A PUT+tombstone group's footer op range proves no atomics, so
    compact_ranges folds it through the merge-free route; the result
    must equal the general fold of the raw op-log (all four delete
    granularities, multi-version columns, ts collisions)."""
    import tera_spark.operators.compact as compact_mod
    from tera_spark.catalog import Catalog
    from tera_spark.operators.view import fold_route

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t { cf0 <maxversions=2>, cf1 <maxversions=1> }")
    rng = random.Random(17)
    ops = [CellOp.PUT] * 6 + list(CellOp.DELETES)
    for part in range(3):  # three appends over one key range: one group
        rows = []
        for i in range(150):
            seq = part * 1000 + i
            op = rng.choice(ops)
            rk = f"r{rng.randrange(10):02d}"
            cf = "" if op == CellOp.DEL_ROW else rng.choice(["cf0", "cf1"])
            qu = "" if op in (CellOp.DEL_ROW, CellOp.DEL_FAMILY) else f"q{rng.randrange(3)}"
            val = f"v{seq}".encode() if op == CellOp.PUT else None
            rows.append((rk, cf, qu, rng.randrange(1, 8), op, val, seq))
        cat.append("t", spark.createDataFrame(rows, CELL_SCHEMA))

    def cells(df):
        return {(r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value)) for r in df.collect()}

    general = cells(current_view(cat.read_oplog("t"), cat.get_schema("t"), now_us=NOW))
    assert general

    routes = []
    real = compact_mod.compact

    def spy(*a, op_kinds=None, **kw):
        routes.append(fold_route(op_kinds))
        return real(*a, op_kinds=op_kinds, **kw)

    monkeypatch.setattr(compact_mod, "compact", spy)
    stats = cat.compact_ranges("t", now_us=NOW)
    assert stats["groups_folded"] == 1 and routes == ["merge_free"]
    assert cells(cat.view("t", now_us=NOW)) == general


def test_compact_ranges_keeps_torn_rows_masked(spark, tmp_path):
    """A file above the commit watermark (its writer died before the
    commit record) is masked on every read. Minor compaction must not
    fold it into visible seq-0 PUTs."""
    import pyarrow.parquet as pq

    from tera_spark.catalog import Catalog
    from tera_spark.client import Table
    from tera_spark.operators.seek import Seeker

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t { cf0 }")
    t = Table(cat, "t")
    t.put("r1", "cf0", "q", "v1", ts=1)
    t.put("r2", "cf0", "q", "v2", ts=1)
    torn = MutationBatch(base_seq=50).put("r2", "cf0", "q", "torn", ts=2)
    pq.write_table(torn.to_arrow(), f"{cat.oplog_path('t')}/part-torn-00000.parquet")

    assert cat.maintenance("t", apply=False)["action"] == "minor"
    cat.maintenance("t")
    want = {"r1": b"v1", "r2": b"v2"}
    assert {r.row_key: bytes(r.value) for r in cat.view("t").collect()} == want
    assert [c[4] for c in Seeker(cat, "t").get("r2")] == [b"v2"]


def test_compact_ranges_rerecord_keeps_commit_gap(spark, tmp_path):
    """Folding a counter-only table re-records the watermark with PUT
    in its op kinds. The record keeps its window's low end, so the
    commit gap below it (a peer's reserved window, record pending)
    still masks the peer's staged rows."""
    import pyarrow.parquet as pq

    from tera_spark.catalog import Catalog

    root = str(tmp_path / "cat")
    cat = Catalog(spark, root)
    cat.create_table("t { c }")
    cat.append_cas("t", MutationBatch().add("r", "c", "n", 1, ts=1))
    lo, hi = cat._reserve_seq_window("t", 1, "peer")
    cat._publish_reservation("t", "peer", lo, hi, [], 300)
    cat.append_cas("t", MutationBatch().add("r", "c", "n", 2, ts=2))
    assert cat._masked_gaps("t") == [(lo, hi)]

    assert cat.compact_ranges("t", now_us=NOW)["groups_folded"] == 1
    peer = MutationBatch(base_seq=lo).put("r", "c", "n", "peer", ts=3)
    pq.write_table(peer.to_arrow(), f"{cat.oplog_path('t')}/part-peer-00000.parquet")
    fresh = Catalog(spark, root)
    assert fresh._masked_gaps("t") == [(lo, hi)]
    got = [bytes(r.value) for r in fresh.view("t", now_us=NOW).collect()]
    assert got == [py_encode_be_i64(3)]
