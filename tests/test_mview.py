"""Materialized current view: incremental maintenance must stay
row-identical to folding the full op-log (the streaming twin of the
compact≡view equivalence), and must only rewrite dirty tablets."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest

from tera_spark.catalog import Catalog
from tera_spark.operators.mutation import MutationBatch
from tera_spark.streaming.mview import MaterializedCurrentView

NOW = 10_000_000_000


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="tera_mv_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    return sorted(
        (r.row_key, r.cf, r.qualifier, r.ts, bytes(r.value)) for r in df.collect()
    )


@pytest.mark.slow
def test_mview_tracks_full_fold(spark, root):
    cat = Catalog(spark, root)
    cat.create_table("mv {cf0 <maxversions=2>, cnt}")
    mv = MaterializedCurrentView(
        cat, "mv", f"{root}/mv_view", f"{root}/mv_ckpt", n_tablets=8, now_us=NOW
    )

    # batch 1: plain puts + a counter
    b1 = (
        MutationBatch()
        .put("r1", "cf0", "a", "v1", ts=1)
        .put("r2", "cf0", "a", "v2", ts=1)
        .put("r3", "cf0", "b", "v3", ts=1)
        .add_int64("r9", "cnt", "hits", 5, ts=1)
    )
    cat.append("mv", b1.to_df(spark))
    mv.refresh()
    assert _rows(mv.read()) == _rows(cat.view("mv", now_us=NOW))

    # batch 2: overwrite r1 (two versions kept), delete r2 entirely,
    # more counter deltas — all four fold paths exercised
    b2 = (
        MutationBatch()
        .put("r1", "cf0", "a", "v1b", ts=2)
        .delete_row("r2", ts=5)
        .add_int64("r9", "cnt", "hits", 7, ts=2)
    )
    cat.append("mv", b2.to_df(spark))
    mv.refresh()
    got = _rows(mv.read())
    assert got == _rows(cat.view("mv", now_us=NOW))
    assert not any(r[0] == "r2" for r in got)  # tombstone applied

    # batch 3: third version of r1 trims to maxversions=2
    cat.append("mv", MutationBatch().put("r1", "cf0", "a", "v1c", ts=3).to_df(spark))
    mv.refresh()
    assert _rows(mv.read()) == _rows(cat.view("mv", now_us=NOW))


def test_mview_rewrites_only_dirty_tablets(spark, root):
    cat = Catalog(spark, root)
    cat.create_table("mv2 {cf0}")
    keys = [f"k{i:03d}" for i in range(64)]
    b = MutationBatch()
    for k in keys:
        b.put(k, "cf0", "q", f"v-{k}", ts=1)
    cat.append("mv2", b.to_df(spark))
    mv = MaterializedCurrentView(
        cat, "mv2", f"{root}/mv2_view", f"{root}/mv2_ckpt", n_tablets=8, now_us=NOW
    )
    mv.refresh()

    def file_set():
        return {
            str(p.relative_to(f"{root}/mv2_view")): p.stat().st_mtime_ns
            for p in Path(f"{root}/mv2_view").rglob("*.parquet")
        }

    before = file_set()
    # touch ONE key; only its tablet's files may change
    cat.append("mv2", MutationBatch().put(keys[0], "cf0", "q", "v2", ts=2).to_df(spark))
    mv.refresh()
    after = file_set()
    unchanged = {p for p in before if p in after and before[p] == after[p]}
    changed_dirs = {
        p.split("/")[0] for p in (set(before) ^ set(after)) | (set(before) & set(after) - unchanged)
    }
    assert len(changed_dirs) == 1, changed_dirs  # exactly one tablet rewritten
    assert _rows(mv.read()) == _rows(cat.view("mv2", now_us=NOW))


def test_mview_delete_empties_tablet(spark, root):
    cat = Catalog(spark, root)
    cat.create_table("mv3 {cf0}")
    cat.append("mv3", MutationBatch().put("solo", "cf0", "q", "v", ts=1).to_df(spark))
    mv = MaterializedCurrentView(
        cat, "mv3", f"{root}/mv3_view", f"{root}/mv3_ckpt", n_tablets=4, now_us=NOW
    )
    mv.refresh()
    assert len(_rows(mv.read())) == 1
    # deleting the only row must drop its tablet dir (dynamic overwrite
    # alone would leave the stale partition untouched)
    cat.append("mv3", MutationBatch().delete_row("solo", ts=2).to_df(spark))
    mv.refresh()
    assert _rows(cat.view("mv3", now_us=NOW)) == []
    remaining = list(Path(f"{root}/mv3_view").glob("tablet=*"))
    assert remaining == [], remaining


def test_mview_emits_change_stream(spark, root):
    """With changes_path set, each refresh writes its INSERT/UPDATE/
    DELETE set under batch=<epoch>: initial load is all INSERTs; a
    later update/delete batch emits exactly its delta."""
    cat = Catalog(spark, root)
    cat.create_table("mvc {cf0}")
    mv = MaterializedCurrentView(
        cat,
        "mvc",
        f"{root}/mvc_view",
        f"{root}/mvc_ckpt",
        n_tablets=4,
        now_us=NOW,
        changes_path=f"{root}/mvc_changes",
    )

    b1 = MutationBatch().put("r1", "cf0", "a", "v1", ts=1).put("r2", "cf0", "a", "v2", ts=1)
    cat.append("mvc", b1.to_df(spark))
    mv.refresh()
    ch1 = mv.read_changes().collect()
    assert {(r.row_key, r.change_type) for r in ch1} == {("r1", "INSERT"), ("r2", "INSERT")}

    b2 = MutationBatch(base_seq=100).put("r1", "cf0", "a", "v9", ts=2).delete_row("r2", ts=2)
    b2.put("r3", "cf0", "a", "v3", ts=2)
    cat.append("mvc", b2.to_df(spark))
    mv.refresh()
    ch = {
        (r.row_key, r.change_type): (
            bytes(r.old_value) if r.old_value is not None else None,
            bytes(r.new_value) if r.new_value is not None else None,
        )
        for r in mv.read_changes().filter("batch = 1").collect()
    }
    assert ch == {
        ("r1", "UPDATE"): (b"v1", b"v9"),
        ("r2", "DELETE"): (b"v2", None),
        ("r3", "INSERT"): (None, b"v3"),
    }
    # the view itself still matches the full fold
    assert _rows(mv.read()) == _rows(cat.view("mvc", now_us=NOW))
