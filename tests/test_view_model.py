"""Differential property test: an independent pure-Python model of the
cell-visibility semantics (the documented contract of
operators/view.py, i.e. the reference's ScanDrop + AtomicMergeStrategy
behavior — src/io/default_compact_strategy.cc:275-402,
src/io/atomic_merge_strategy.cc:59-109) is run against randomized
op-logs and must agree cell-for-cell with `current_view`.

Unlike tests/test_compact.py (internal consistency: compact≡view),
this checks the *semantics themselves* against a second
implementation, transliterating the reference's scan-loop state
machine into plain Python.

The generator keeps each qualifier "typed" (counter / append / text),
mirroring real tera usage — merging an ADD into a 3-byte text PUT is
codec-undefined in both implementations and not a behavior we pin.
"""

from __future__ import annotations

import random
import threading
from collections import defaultdict

import pytest

from tera_spark.functions.codecs import (
    py_decode_be_i64,
    py_decode_le_i64,
    py_encode_be_i64,
    py_encode_le_i64,
)
from tera_spark.model import CELL_SCHEMA, CellOp
from tera_spark.operators.view import current_view, fold_route
from tera_spark.registry import TableSchema

NOW = 2_000_000_000_000_000

# qualifier → allowed data ops (PUT values typed to match the merge kind)
QUAL_KINDS = {
    "cnt": (CellOp.ADD,),
    "cn2": (CellOp.ADDINT64,),
    "log": (CellOp.APPEND,),
    "txt": (CellOp.PUT_IFABSENT,),
}


def _schema() -> TableSchema:
    t = TableSchema("t")
    t.add_column_family("cf0", max_versions=1)
    t.add_column_family("cf1", max_versions=3)
    t.add_column_family("cfttl", max_versions=2, ttl=1000)  # seconds
    return t


def _gen_oplog(seed: int, n: int = 500) -> list[tuple]:
    rng = random.Random(seed)
    rows = []
    cfs = ["cf0", "cf1", "cfttl", "zz_illegal"]
    quals = list(QUAL_KINDS)
    for seq in range(n):
        r = rng.random()
        rk = f"row{rng.randrange(10):02d}"
        cf = rng.choice(cfs)
        qu = rng.choice(quals)
        # cfttl: half the cells land beyond the 1000 s TTL horizon
        if cf == "cfttl" and rng.random() < 0.5:
            ts = rng.randrange(1, 60)
        else:
            ts = NOW - rng.randrange(1, 60)
        if r < 0.03:
            rows.append((rk, "", "", ts, CellOp.DEL_ROW, None, seq))
        elif r < 0.08:
            rows.append((rk, cf, "", ts, CellOp.DEL_FAMILY, None, seq))
        elif r < 0.14:
            rows.append((rk, cf, qu, ts, CellOp.DEL_QUALIFIERS, None, seq))
        elif r < 0.22:
            rows.append((rk, cf, qu, ts, CellOp.DEL_QUALIFIER, None, seq))
        else:
            kind = QUAL_KINDS[qu][0]
            if rng.random() < 0.45:  # a PUT (typed for the column)
                if kind == CellOp.ADD:
                    val = py_encode_be_i64(rng.randrange(0, 1000))
                elif kind == CellOp.ADDINT64:
                    val = py_encode_le_i64(rng.randrange(0, 1000))
                else:
                    val = f"v{seq % 13}".encode()
                rows.append((rk, cf, qu, ts, CellOp.PUT, val, seq))
            else:
                if kind == CellOp.ADD:
                    val = py_encode_be_i64(rng.randrange(-5, 10))
                elif kind == CellOp.ADDINT64:
                    val = py_encode_le_i64(rng.randrange(-5, 10))
                else:
                    val = f"x{seq % 7}".encode()
                rows.append((rk, cf, qu, ts, kind, val, seq))
    return rows


# --- the model ------------------------------------------------------------

ATOMIC = {CellOp.ADD, CellOp.ADDINT64, CellOp.APPEND, CellOp.PUT_IFABSENT}


def model_view(rows: list[tuple], schema: TableSchema, now_us: int) -> set[tuple]:
    cf_props = {c.name: c for c in schema.column_families.values()}

    neg_inf = -(1 << 62)
    del_row = defaultdict(lambda: neg_inf)
    del_cf = defaultdict(lambda: neg_inf)
    del_qu = defaultdict(lambda: neg_inf)
    for rk, cf, qu, ts, op, val, seq in rows:
        if op == CellOp.DEL_ROW:
            del_row[rk] = max(del_row[rk], ts)
        elif op == CellOp.DEL_FAMILY:
            del_cf[(rk, cf)] = max(del_cf[(rk, cf)], ts)
        elif op == CellOp.DEL_QUALIFIERS:
            del_qu[(rk, cf, qu)] = max(del_qu[(rk, cf, qu)], ts)

    cols = defaultdict(list)
    for rk, cf, qu, ts, op, val, seq in rows:
        if op in (CellOp.DEL_ROW, CellOp.DEL_FAMILY, CellOp.DEL_QUALIFIERS):
            continue
        if ts <= max(del_row[rk], del_cf[(rk, cf)], del_qu[(rk, cf, qu)]):
            continue
        if cf not in cf_props:
            continue
        ttl = cf_props[cf].ttl
        if op >= CellOp.PUT and ttl > 0 and ts < now_us - ttl * 1_000_000:
            continue
        cols[(rk, cf, qu)].append((ts, op, val, seq))

    out = set()
    for (rk, cf, qu), entries in cols.items():
        maxv = cf_props[cf].max_versions
        # scan order: ts desc, op asc (delete marks before values), seq desc
        entries.sort(key=lambda x: (-x[0], x[1], -x[3]))
        # leading run of atomic ops
        run = 0
        while run < len(entries) and entries[run][1] in ATOMIC:
            run += 1
        glen = run + (
            1 if run > 0 and run < len(entries) and entries[run][1] == CellOp.PUT else 0
        )
        grp, rest = entries[:glen], entries[glen:]
        if run > 0 and maxv >= 1:
            kind = grp[0][1]
            # same-ts dedup for atomic entries (vs the raw previous entry)
            deduped = [
                x
                for i, x in enumerate(grp)
                if x[1] == CellOp.PUT or i == 0 or x[0] != grp[i - 1][0]
            ]
            mergeable = [x for x in deduped if x[1] in (kind, CellOp.PUT)]
            if kind == CellOp.ADD:
                val = py_encode_be_i64(
                    _wrap(sum(py_decode_be_i64(x[2]) for x in mergeable))
                )
            elif kind == CellOp.ADDINT64:
                val = py_encode_le_i64(
                    _wrap(sum(py_decode_le_i64(x[2]) for x in mergeable))
                )
            elif kind == CellOp.APPEND:
                val = b"".join(x[2] for x in reversed(mergeable))
            else:  # PUT_IFABSENT: oldest wins
                val = mergeable[-1][2]
            out.add((rk, cf, qu, grp[0][0], val))
        # remainder: DEL_QUALIFIER arming + version cap
        vnum = 1 if run > 0 else 0
        prev = 0
        for ts, op, val, seq in rest:
            consumed = prev == CellOp.DEL_QUALIFIER
            if op == CellOp.PUT:
                vnum += 1
                if not consumed and vnum <= maxv:
                    out.add((rk, cf, qu, ts, val))
            prev = op
    return out


def _wrap(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


@pytest.mark.parametrize("seed", [3, 17, 91, 2024])
def test_view_matches_independent_model(spark, seed):
    rows = _gen_oplog(seed)
    schema = _schema()
    got = {
        (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value) if r.value is not None else None)
        for r in current_view(
            spark.createDataFrame(rows, CELL_SCHEMA), schema, now_us=NOW
        ).collect()
    }
    want = model_view(rows, schema, NOW)
    missing, extra = want - got, got - want
    assert got == want, f"missing={sorted(missing)[:5]} extra={sorted(extra)[:5]}"


# --- hypothesis: the same differential property under minimized,
# adversarial op-logs (shrinking finds minimal counterexamples; the
# seeded generator above covers volume) -----------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def _oplogs(draw):
    n = draw(st.integers(min_value=4, max_value=40))
    rows = []
    for seq in range(n):
        rk = f"row{draw(st.integers(0, 2))}"
        cf = draw(st.sampled_from(["cf0", "cf1", "cfttl", "zz_illegal"]))
        qu = draw(st.sampled_from(sorted(QUAL_KINDS)))
        if cf == "cfttl" and draw(st.booleans()):
            ts = draw(st.integers(1, 59))  # beyond the TTL horizon
        else:
            ts = NOW - draw(st.integers(1, 12))  # tight range -> ts collisions
        kind = draw(
            st.sampled_from(
                ["put", "put", "atomic", "atomic", "del_row", "del_cf", "del_qus", "del_qu"]
            )
        )
        dkind = QUAL_KINDS[qu][0]
        if kind == "del_row":
            rows.append((rk, "", "", ts, CellOp.DEL_ROW, None, seq))
        elif kind == "del_cf":
            rows.append((rk, cf, "", ts, CellOp.DEL_FAMILY, None, seq))
        elif kind == "del_qus":
            rows.append((rk, cf, qu, ts, CellOp.DEL_QUALIFIERS, None, seq))
        elif kind == "del_qu":
            rows.append((rk, cf, qu, ts, CellOp.DEL_QUALIFIER, None, seq))
        else:
            iv = draw(st.integers(-5, 1000))
            if dkind == CellOp.ADD:
                val = py_encode_be_i64(iv)
            elif dkind == CellOp.ADDINT64:
                val = py_encode_le_i64(iv)
            else:
                val = f"v{iv % 13}".encode()
            rows.append(
                (rk, cf, qu, ts, CellOp.PUT if kind == "put" else dkind, val, seq)
            )
    return rows


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_oplogs())
def test_view_model_property_hypothesis(spark, rows):
    schema = _schema()
    got = {
        (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value) if r.value is not None else None)
        for r in current_view(
            spark.createDataFrame(rows, CELL_SCHEMA), schema, now_us=NOW
        ).collect()
    }
    want = model_view(rows, schema, NOW)
    assert got == want, f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"


# --- KV mode: LWW fold + tombstones + TTL vs a dict replay model ---------

@st.composite
def _kv_oplogs(draw):
    n = draw(st.integers(min_value=3, max_value=30))
    rows = []
    for seq in range(n):
        key = f"k{draw(st.integers(0, 3))}"
        kind = draw(st.sampled_from(["put", "put", "put_ttl_live", "put_ttl_dead", "del"]))
        if kind == "del":
            rows.append((key, None, None, seq))
        else:
            val = f"v{draw(st.integers(0, 9))}".encode()
            expire = {
                "put": None,
                "put_ttl_live": NOW + 10_000_000,
                "put_ttl_dead": NOW - draw(st.integers(1, 1000)),
            }[kind]
            rows.append((key, val, expire, seq))
    return rows


def _kv_model(rows, now_us):
    last = {}
    for key, val, expire, seq in sorted(rows, key=lambda r: r[3]):
        last[key] = (val, expire)
    out = {}
    for key, (val, expire) in last.items():
        if val is None:
            continue  # tombstone
        if expire is not None and 0 < expire <= now_us:
            continue  # expired
        out[key] = val
    return out


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_kv_oplogs())
def test_kv_view_model_property_hypothesis(spark, rows):
    from tera_spark.model import KV_OPLOG_SCHEMA
    from tera_spark.operators.view import kv_current_view

    got = {
        r.key: bytes(r.value)
        for r in kv_current_view(
            spark.createDataFrame(rows, KV_OPLOG_SCHEMA), now_us=NOW
        ).collect()
    }
    assert got == _kv_model(rows, NOW)


# a PUT-only log's op_kinds in each container form callers pass: a
# set literal, a frozenset, and MutationBatch.op_kinds' list (ids keep
# the seed alone)
@pytest.mark.parametrize(
    "seed, op_kinds",
    [
        pytest.param(1, {CellOp.PUT}, id="1"),
        pytest.param(2, frozenset({CellOp.PUT}), id="2"),
        pytest.param(3, [CellOp.PUT], id="3"),
    ],
)
@pytest.mark.parametrize("maxv", [1, 2, 3])
def test_put_only_fast_path_matches_general(spark, seed, op_kinds, maxv):
    """PUT-only op_kinds promise: on any PUT-only op-log the fast fold
    (max_by for K=1, sliced sort for K>1) is cell-identical to the
    general delete/merge-aware fold — including ts ties broken by seq,
    per-cell TTL expiry, and snapshot_seq bounds."""
    assert fold_route(op_kinds) == "put_only"
    rng = random.Random(seed)
    rows = []
    for i in range(400):
        rk = f"r{rng.randrange(20):03d}"
        cf = rng.choice(["A", "B"])
        qu = f"q{rng.randrange(4)}"
        ts = rng.randrange(1, 8)  # dense → plenty of ts ties
        ttl = rng.choice([None, None, None, 1])  # some already-expired cells
        exp = (NOW - 10) if ttl else None
        rows.append((rk, cf, qu, ts, CellOp.PUT, f"v{i}".encode(), i, exp))
    df = spark.createDataFrame(
        rows,
        "row_key string, cf string, qualifier string, ts long, op int, "
        "value binary, seq long, expire_ts long",
    )
    schema = (
        TableSchema(name="t")
        .add_column_family("A", max_versions=maxv)
        .add_column_family("B", max_versions=1)  # mixed K exercises the map
    )
    for snap in (None, 200):
        kw = dict(now_us=NOW, snapshot_seq=snap)
        fast = {tuple(r) for r in current_view(df, schema, op_kinds=op_kinds, **kw).collect()}
        slow = {tuple(r) for r in current_view(df, schema, **kw).collect()}
        assert fast == slow
    # no-schema path (default_max_versions governs)
    fast = {tuple(r) for r in current_view(df, None, op_kinds=op_kinds, now_us=NOW,
                                           default_max_versions=maxv).collect()}
    slow = {tuple(r) for r in current_view(df, None, now_us=NOW,
                                           default_max_versions=maxv).collect()}
    assert fast == slow


def test_catalog_routes_put_only_tables_to_fast_fold(spark, tmp_path):
    """Commit records carry the batch's op kinds; a table whose whole
    history is PUT-only reads through the fast fold, and the first
    non-PUT commit permanently demotes it to the general fold."""
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t { A }")
    b = MutationBatch(base_seq=1)
    b.put("r1", "A", "q", "v1", ts=5).put("r1", "A", "q", "v2", ts=9)
    assert b.op_kinds == [CellOp.PUT]
    cat.append("t", b.to_df(spark), commit_seq=2, op_kinds=b.op_kinds)
    assert fold_route(cat._op_kinds_union("t")) == "put_only"
    got = {(r.row_key, r.ts, bytes(r.value)) for r in cat.view("t").collect()}
    assert got == {("r1", 9, b"v2")}

    d = MutationBatch(base_seq=3)
    d.delete_column("r1", "A", "q", ts=9)
    cat.append("t", d.to_df(spark), commit_seq=3, op_kinds=d.op_kinds)
    assert fold_route(cat._op_kinds_union("t")) == "merge_free"
    assert cat.view("t").count() == 0  # the delete is honored


def test_major_compaction_upgrades_to_fast_fold(spark, tmp_path):
    """compact() emits an all-PUT seq-0 base, so major compaction
    re-seeds the commit history and upgrades a previously demoted
    table back to the PUT-only fast fold — with identical visible
    cells before and after."""
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t { A }")
    b = MutationBatch(base_seq=1)
    b.put("r1", "A", "q", "v1", ts=5).put("r2", "A", "q", "vx", ts=5)
    cat.append("t", b.to_df(spark), commit_seq=2, op_kinds=b.op_kinds)
    d = MutationBatch(base_seq=3)
    d.delete_row("r2", ts=9)
    cat.append("t", d.to_df(spark), commit_seq=3, op_kinds=d.op_kinds)
    assert fold_route(cat._op_kinds_union("t")) == "merge_free"
    before = {(r.row_key, r.ts, bytes(r.value)) for r in cat.view("t").collect()}

    cat.compact_inplace("t", now_us=NOW)
    assert fold_route(cat._op_kinds_union("t")) == "put_only"
    after = {(r.row_key, r.ts, bytes(r.value)) for r in cat.view("t").collect()}
    assert after == before == {("r1", 5, b"v1")}


@pytest.mark.parametrize("seed", [5, 6])
@pytest.mark.parametrize(
    "op_kinds",
    [pytest.param({CellOp.ADD}, id="7"), pytest.param({CellOp.ADDINT64}, id="10")],
)
def test_counter_only_fast_path_matches_general(spark, seed, op_kinds):
    """Pure-counter op_kinds promise: on a pure-ADD (or pure-ADDINT64)
    op-log the stacked-agg SUM fold is cell-identical to the general
    fold — including same-ts dedup (colliding timestamps keep only the
    max-seq delta) and negative deltas."""
    assert fold_route(op_kinds) == "counter"
    (kind,) = op_kinds
    enc = py_encode_be_i64 if kind == CellOp.ADD else py_encode_le_i64
    rng = random.Random(seed)
    rows = []
    for i in range(400):
        rk = f"r{rng.randrange(15):03d}"
        qu = f"q{rng.randrange(3)}"
        ts = rng.randrange(1, 6)  # dense → same-ts dedup exercised
        rows.append((rk, "A", qu, ts, kind, enc(rng.randrange(-50, 100)), i))
    df = spark.createDataFrame(rows, CELL_SCHEMA)
    schema = TableSchema(name="t").add_column_family("A", max_versions=1)
    fast = {tuple(r) for r in current_view(df, schema, now_us=NOW,
                                           op_kinds=op_kinds).collect()}
    slow = {tuple(r) for r in current_view(df, schema, now_us=NOW).collect()}
    assert fast == slow and fast


def test_catalog_routes_counter_tables_to_sum_fold(spark, tmp_path):
    """A table whose whole commit history is Add-only reads through
    the counter fold; mixing in a PUT demotes it to the general fold
    (PUT resets the merge base — only the general fold knows that)."""
    from tera_spark.catalog import Catalog
    from tera_spark.functions.codecs import py_decode_be_i64
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t { A }")
    b = MutationBatch(base_seq=1)
    b.add("r1", "A", "hits", 5, ts=1).add("r1", "A", "hits", 7, ts=2)
    cat.append("t", b.to_df(spark), commit_seq=2, op_kinds=b.op_kinds)
    assert cat._op_kinds_union("t") == {CellOp.ADD}
    assert fold_route(cat._op_kinds_union("t")) == "counter"
    got = cat.view("t").collect()
    assert [(r.row_key, py_decode_be_i64(bytes(r.value))) for r in got] == [("r1", 12)]

    p = MutationBatch(base_seq=3)
    p.put("r1", "A", "hits", py_encode_be_i64(100), ts=3)
    cat.append("t", p.to_df(spark), commit_seq=3, op_kinds=p.op_kinds)
    assert cat._op_kinds_union("t") == {CellOp.ADD, CellOp.PUT}
    assert fold_route(cat._op_kinds_union("t")) == "general"
    got = cat.view("t").collect()  # general fold: PUT resets the base
    assert [(r.row_key, py_decode_be_i64(bytes(r.value))) for r in got] == [("r1", 100)]


def test_snapshot_compaction_uses_fast_fold_and_preserves_semantics(spark, tmp_path):
    """Catalog.snapshot derives the op kinds from commit records; a
    counter table's compacted base materializes the merged sum as a
    PUT and stays byte-identical to the pre-compaction view."""
    from tera_spark.catalog import Catalog
    from tera_spark.functions.codecs import py_decode_be_i64
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t { A }")
    b = MutationBatch(base_seq=1)
    b.add("r1", "A", "hits", 5, ts=1).add("r1", "A", "hits", 7, ts=2).add("r2", "A", "hits", -3, ts=1)
    cat.append("t", b.to_df(spark), commit_seq=3, op_kinds=b.op_kinds)
    before = {(r.row_key, py_decode_be_i64(bytes(r.value))) for r in cat.view("t").collect()}
    cat.compact_inplace("t", now_us=NOW)
    after = {(r.row_key, py_decode_be_i64(bytes(r.value))) for r in cat.view("t").collect()}
    assert after == before == {("r1", 12), ("r2", -3)}
    # counter table upgraded to PUT-only base
    assert fold_route(cat._op_kinds_union("t")) == "put_only"


@st.composite
def _put_only_oplogs(draw):
    n = draw(st.integers(min_value=2, max_value=30))
    rows = []
    for seq in range(n):
        rk = f"row{draw(st.integers(0, 2))}"
        cf = draw(st.sampled_from(["A", "B"]))
        qu = f"q{draw(st.integers(0, 2))}"
        ts = draw(st.integers(1, 6))  # tight → heavy ts ties
        rows.append((rk, cf, qu, ts, CellOp.PUT, f"v{seq}".encode(), seq))
    return rows


@pytest.mark.slow
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=_put_only_oplogs(), maxv=st.integers(1, 3))
def test_hypothesis_put_only_fast_path(spark, rows, maxv):
    """Shrinking search for any PUT-only op-log where the fast fold
    and the general fold disagree (minimal counterexamples beat the
    seeded volume test at pinpointing tie-break bugs)."""
    df = spark.createDataFrame(rows, CELL_SCHEMA)
    schema = (
        TableSchema(name="t")
        .add_column_family("A", max_versions=maxv)
        .add_column_family("B", max_versions=1)
    )
    fast = {
        tuple(r) for r in current_view(df, schema, now_us=NOW, op_kinds={CellOp.PUT}).collect()
    }
    slow = {tuple(r) for r in current_view(df, schema, now_us=NOW).collect()}
    assert fast == slow


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@pytest.mark.slow
@given(
    deltas=st.lists(
        st.tuples(st.integers(0, 2), st.integers(1, 4), st.integers(-50, 100)),
        min_size=1,
        max_size=25,
    ),
    kind=st.sampled_from([CellOp.ADD, CellOp.ADDINT64]),
)
def test_hypothesis_counter_fast_path(spark, deltas, kind):
    """Same shrinking search for the counter fold (op_kinds {ADD} or
    {ADDINT64}), with dense ts collisions so same-ts dedup is always
    in play."""
    enc = py_encode_be_i64 if kind == CellOp.ADD else py_encode_le_i64
    rows = [
        (f"r{rk}", "A", "q", ts, kind, enc(d), seq)
        for seq, (rk, ts, d) in enumerate(deltas)
    ]
    df = spark.createDataFrame(rows, CELL_SCHEMA)
    schema = TableSchema(name="t").add_column_family("A", max_versions=1)
    fast = {
        tuple(r)
        for r in current_view(df, schema, now_us=NOW, op_kinds={kind}).collect()
    }
    slow = {tuple(r) for r in current_view(df, schema, now_us=NOW).collect()}
    assert fast == slow


# a PUT+tombstone log's op_kinds: the exact set, the sound superset
# compact_ranges derives from footer op min/max, and a tuple (ids keep
# the seed alone)
@pytest.mark.parametrize(
    "seed, op_kinds",
    [
        pytest.param(11, {CellOp.PUT, *CellOp.DELETES}, id="11"),
        pytest.param(
            12, {k for k in CellOp.NAMES if CellOp.DEL_ROW <= k <= CellOp.PUT}, id="12"
        ),
        pytest.param(13, (*CellOp.DELETES, CellOp.PUT), id="13"),
    ],
)
def test_no_atomics_fast_path_matches_general(spark, seed, op_kinds):
    """No-atomics op_kinds promise: on a PUT+tombstone op-log (all four
    delete granularities, multi-version columns, chained single-
    version deletes, same-ts collisions) the merge-free fold is
    cell-identical to the general fold — every merge run would be
    empty, so skipping run detection cannot change results."""
    assert fold_route(op_kinds) == "merge_free"
    rng = random.Random(seed)
    ops = [CellOp.PUT] * 6 + [
        CellOp.DEL_ROW, CellOp.DEL_FAMILY, CellOp.DEL_QUALIFIERS, CellOp.DEL_QUALIFIER
    ]
    rows = []
    for i in range(500):
        op = rng.choice(ops)
        rk = f"r{rng.randrange(12):03d}"
        ts = rng.randrange(1, 8)
        if op == CellOp.DEL_ROW:
            rows.append((rk, "", "", ts, op, None, i))
        elif op == CellOp.DEL_FAMILY:
            rows.append((rk, rng.choice(["A", "B"]), "", ts, op, None, i))
        else:
            qu = f"q{rng.randrange(3)}"
            val = f"v{i}".encode() if op == CellOp.PUT else None
            rows.append((rk, rng.choice(["A", "B"]), qu, ts, op, val, i))
    df = spark.createDataFrame(rows, CELL_SCHEMA)
    schema = (
        TableSchema(name="t")
        .add_column_family("A", max_versions=2)
        .add_column_family("B", max_versions=1)
    )
    fast = {tuple(r) for r in current_view(df, schema, now_us=NOW, op_kinds=op_kinds).collect()}
    slow = {tuple(r) for r in current_view(df, schema, now_us=NOW).collect()}
    assert fast == slow and fast


def test_catalog_routes_tombstone_tables_to_merge_free_fold(spark, tmp_path):
    """A table whose commit history holds only puts and deletes reads
    through the merge-free fold; an Add demotes it to the general
    fold (only that fold merges counters)."""
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t { A }")
    b = MutationBatch(base_seq=1)
    b.put("r1", "A", "q", "v1", ts=1).put("r2", "A", "q", "v2", ts=1)
    b.delete_row("r2", ts=2)
    cat.append("t", b.to_df(spark), commit_seq=3, op_kinds=b.op_kinds)
    assert fold_route(cat._op_kinds_union("t")) == "merge_free"
    assert {r.row_key for r in cat.view("t").collect()} == {"r1"}

    b2 = MutationBatch(base_seq=4)
    b2.add("r1", "A", "n", 5, ts=3)
    cat.append("t", b2.to_df(spark), commit_seq=4, op_kinds=b2.op_kinds)
    assert fold_route(cat._op_kinds_union("t")) == "general"


# op kinds that rule out both mark kinds (DEL_ROW, DEL_FAMILY): the
# general and merge_free routes then build no mark joins
_NO_MARKS_GENERAL = {CellOp.PUT, CellOp.ADD, CellOp.APPEND, CellOp.DEL_QUALIFIER, CellOp.DEL_QUALIFIERS}
_NO_MARKS_MERGE_FREE = {CellOp.PUT, CellOp.DEL_QUALIFIER, CellOp.DEL_QUALIFIERS}


@pytest.mark.parametrize("seed", [3, 91])
@pytest.mark.parametrize(
    "op_kinds, route",
    [
        pytest.param(_NO_MARKS_GENERAL, "general", id="general"),
        pytest.param(_NO_MARKS_MERGE_FREE, "merge_free", id="merge_free"),
    ],
)
def test_mark_free_routes_match_unknown_kinds(spark, seed, op_kinds, route):
    """When the op kinds rule out row and family deletes, the fold
    skips the mark aggregates and both joins; its rows equal the
    unknown-kinds fold's (which builds them) and the model's."""
    from tera_spark.plans import plan_str

    assert fold_route(op_kinds) == route
    rows = [r for r in _gen_oplog(seed) if r[4] in op_kinds]
    df = spark.createDataFrame(rows, CELL_SCHEMA)
    schema = _schema()
    fast = current_view(df, schema, now_us=NOW, op_kinds=op_kinds)
    assert "Join" not in plan_str(fast, "formatted")
    got = {tuple(r) for r in fast.collect()}
    assert got == {tuple(r) for r in current_view(df, schema, now_us=NOW).collect()}
    assert {(rk, cf, qu, ts, bytes(v)) for rk, cf, qu, ts, v in got} == model_view(rows, schema, NOW)


def test_fold_reads_marks_in_one_scan_and_one_join(spark, tmp_path):
    """With row and family deletes admitted (unknown op kinds), the
    fold over a parquet op-log scans it twice (cells and marks), builds
    one mark aggregate keyed by row_key and joins it once; its rows
    equal the model's."""
    import re

    rows = _gen_oplog(3)
    assert {CellOp.DEL_ROW, CellOp.DEL_FAMILY} <= {r[4] for r in rows}
    spark.createDataFrame(rows, CELL_SCHEMA).write.parquet(str(tmp_path / "oplog"))
    view = current_view(spark.read.parquet(str(tmp_path / "oplog")), _schema(), now_us=NOW)
    plan = view._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2, plan
    assert len(re.findall(r"Join", plan)) == 1, plan
    assert len(re.findall(r"(?<![A-Za-z])Exchange\s", plan)) == 2, plan
    got = {(rk, cf, qu, ts, bytes(v)) for rk, cf, qu, ts, v in view.collect()}
    assert got == model_view(rows, _schema(), NOW)


class _Py4jCalls:
    """Counts the entering thread's py4j round trips (``send_command``)
    while active, as scripts/probe_fold_construct.py does: other threads
    share the gateway client (after a streaming test, a background
    thread sends Java-object detaches) and are not the construction."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self):
        orig = self.client.send_command
        me = threading.get_ident()

        def counted(*a, **k):
            self.calls += threading.get_ident() == me
            return orig(*a, **k)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        del self.client.send_command


@pytest.mark.parametrize(
    "op_kinds, route, budget",
    [
        pytest.param(None, "general", 300, id="general"),
        pytest.param(_NO_MARKS_GENERAL, "general", 200, id="general-no-marks"),
        pytest.param({CellOp.PUT, *CellOp.DELETES}, "merge_free", 200, id="merge_free"),
        pytest.param({CellOp.PUT}, "put_only", 200, id="put_only"),
        pytest.param({CellOp.ADD}, "counter", 200, id="counter"),
    ],
)
def test_fold_construction_py4j_budget(spark, tmp_path, op_kinds, route, budget):
    """Building a fold over a parquet op-log costs a bounded number of
    py4j round trips: the fold is SQL text, not Column trees composed
    node by node (one round trip per node). Every phase-A condition
    (snapshot seq, per-cell TTL, legal cf, cf TTL) is in play."""
    import gc

    from tera_spark.model import CELL_TTL_SCHEMA

    assert fold_route(op_kinds) == route
    path = str(tmp_path / "oplog")
    rows = [r + (None,) for r in _gen_oplog(1, n=50)]
    spark.createDataFrame(rows, CELL_TTL_SCHEMA).write.parquet(path)
    oplog = spark.read.parquet(path)
    schema = _schema()

    def build():
        return current_view(oplog, schema, now_us=NOW, snapshot_seq=40, op_kinds=op_kinds)

    build()  # the first build warms py4j's class and method lookups
    gc.collect()
    # no cyclic-GC pass in the window: one, in whatever thread trips it,
    # sends a detach round trip per collected Java object
    gc.disable()
    try:
        with _Py4jCalls(spark) as counter:
            build()
    finally:
        gc.enable()
    assert counter.calls <= budget, f"{route}: {counter.calls} py4j calls > {budget}"
