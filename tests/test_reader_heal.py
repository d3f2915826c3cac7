"""Reader-driven lock cleanup / roll-forward (round-6 task; reference
src/sdk/global_txn.cc:337-501 — any reader meeting a lock past its TTL
cleans up the dead transaction). A crashed writer's garbage must heal
on a table that only ever sees reads again."""

from __future__ import annotations

import json
import time
from pathlib import Path

import pytest

from tera_spark.catalog import Catalog, WriterFenced
from tera_spark.operators.mutation import MutationBatch


def _committed(cat: Catalog, spark, name: str, rows: list[str]):
    for i, r in enumerate(rows, start=1):
        cat.append(
            name,
            MutationBatch(base_seq=i).put(r, "d", "q", f"v{r}", ts=1).to_df(spark),
            commit_seq=i,
            op_kinds=[5],
        )


def test_reader_heals_crashed_cas_writer(spark, tmp_path):
    """Kill a CAS writer mid-commit (row manifest published, parquet
    landed, record pending), then run ONLY reads: after the
    manifest's ttl lapses, the first read sweeps the manifest,
    rolls the torn window back, and table_stats shows no pending
    windows — without any writer ever arriving."""
    root = str(tmp_path / "cat")
    w = Catalog(spark, root, writer_id="writer-w")
    w.create_table("t { d }")
    _committed(w, spark, "t", ["r0"])

    # crashed writer: live reservation + torn parquet, no record
    lo, hi = w._reserve_seq_window("t", 2, "dead-writer", ttl_s=300.0)
    resv = w._publish_reservation("t", "dead-writer", lo, hi, [], 300.0)
    MutationBatch(base_seq=lo).put("torn", "d", "q", "x", ts=1).to_df(
        spark
    ).write.mode("append").parquet(w.oplog_path("t"))

    # a pure READER process arrives
    r = Catalog(spark, root, writer_id="reader-only")

    # while the reservation is live, the reader must NOT touch it
    assert {x.row_key for x in r.view("t").collect()} == {"r0"}
    assert r.table_stats("t")["live_reservations"] == 1

    # the writer is now formally dead: its ttls lapse
    Path(resv).write_text(
        json.dumps({"holder": "dead-writer", "lo": lo, "hi": hi, "rows": [],
                    "expires": time.time() - 1})
    )

    # first read after expiry heals the table
    assert {x.row_key for x in r.view("t").collect()} == {"r0"}
    st = r.table_stats("t")
    assert st["live_reservations"] == 0
    assert st["commit_gaps"] == 0
    assert st["pending_rollback_windows"] >= 1  # the torn window, masked

    # the torn rows stay invisible forever, even after new commits
    w2 = Catalog(spark, root, writer_id="writer-2")
    nxt = MutationBatch().put("r1", "d", "q", "v1", ts=1)
    w2.append_cas("t", nxt, rows=nxt.row_keys)
    assert {x.row_key for x in r.view("t").collect()} == {"r0", "r1"}


def test_reader_heals_crashed_counter_window(spark, tmp_path):
    """A put (or KV verb, or append_cas without rows) that dies after
    staging leaves no manifest, only a live window in the seq counter.
    Once that window expires, a reader treats it as dead state: the
    heal retires the window, reads stop masking it, and the next read
    observes nothing dead."""
    root = str(tmp_path / "cat")
    w = Catalog(spark, root, writer_id="writer-w")
    w.create_table("t { d }")
    lo, hi = w._reserve_seq_window("t", 1, "dead-writer", ttl_s=300.0, live=True)
    w._staged_append("t", MutationBatch(base_seq=lo).put("torn", "d", "q", "x", ts=1).to_arrow())
    Catalog(spark, root, writer_id="writer-2").append_cas(
        "t", MutationBatch().put("r1", "d", "q", "v", ts=1)
    )
    alloc = Path(root) / "t" / "casmeta" / "alloc.json"
    state = json.loads(alloc.read_text())
    for win in state["live"]:
        win[2] = time.time() - 1  # the dead writer's ttl lapses
    alloc.write_text(json.dumps(state))

    r = Catalog(spark, root, writer_id="reader-only")
    assert r._masked_gaps("t") == [(lo, hi)]
    assert r._observes_dead_state("t")
    assert r._reader_heal("t") is True
    assert r._masked_gaps("t") == []
    assert r.table_stats("t")["commit_gaps"] == 0
    assert r._observes_dead_state("t") is False
    assert {x.row_key for x in r.view("t").collect()} == {"r1"}


def test_reader_heals_expired_lease_torn_tail(spark, tmp_path):
    """A lease-fenced writer crashes mid-plain-append (lease expires,
    parquet above the watermark, no record). A reader observing the
    expired lease rolls the tail back; a fresh writer then takes the
    lease and commits normally."""
    root = str(tmp_path / "cat")
    w = Catalog(spark, root, writer_id="writer-w")
    w.create_table("t { d }")
    w.acquire_writer_lease("t", "writer-w", ttl_s=300)
    _committed(w, spark, "t", ["r0"])

    # crash mid-append: parquet lands above watermark, record pending,
    # and the lease runs out
    MutationBatch(base_seq=9).put("torn", "d", "q", "x", ts=1).to_df(
        spark
    ).write.mode("append").parquet(w.oplog_path("t"))
    lease = Path(root) / "t" / "writer.lease"
    lease.write_text(json.dumps({"holder": "writer-w", "expires": time.time() - 1}))

    r = Catalog(spark, root, writer_id="reader-only")
    assert {x.row_key for x in r.view("t").collect()} == {"r0"}
    assert any(rb["upto"] >= 9 for rb in r._rollbacks("t")), "tail not rolled back"

    b = Catalog(spark, root, writer_id="writer-b")
    b.acquire_writer_lease("t", "writer-b", ttl_s=300)
    b.append(
        "t",
        MutationBatch(base_seq=20).put("r1", "d", "q", "v", ts=1).to_df(spark),
        commit_seq=20,
        op_kinds=[5],
    )
    assert {x.row_key for x in r.view("t").collect()} == {"r0", "r1"}


def test_reader_leaves_live_writer_alone(spark, tmp_path):
    """No dead state observed -> reads never roll anything back: a
    live lease + torn-looking tail (a plain append in flight RIGHT
    NOW) is the writer's business, not the reader's."""
    root = str(tmp_path / "cat")
    w = Catalog(spark, root, writer_id="writer-w")
    w.create_table("t { d }")
    w.acquire_writer_lease("t", "writer-w", ttl_s=300)
    _committed(w, spark, "t", ["r0"])
    MutationBatch(base_seq=9).put("mid", "d", "q", "x", ts=1).to_df(
        spark
    ).write.mode("append").parquet(w.oplog_path("t"))

    r = Catalog(spark, root, writer_id="reader-only")
    assert {x.row_key for x in r.view("t").collect()} == {"r0"}  # gap-masked only
    assert r._rollbacks("t") == []
    # the in-flight writer finishes: its rows become visible
    w._record_commit("t", 9, [5])
    assert {x.row_key for x in r.view("t").collect()} == {"r0", "mid"}


@pytest.mark.parametrize("writer", ["spark", "driver"])
def test_plain_append_fenced_when_healed_mid_run(spark, tmp_path, monkeypatch, writer):
    """A plain-append writer whose window gets rolled back DURING the
    append (a reader classified it as dead — its lease ttl lapsed) must
    fail loudly instead of recording a commit over masked rows — for
    both inputs: a DataFrame (Spark writes it) and a pyarrow table (the
    driver writes it)."""
    root = str(tmp_path / "cat")
    w = Catalog(spark, root, writer_id="writer-w")
    w.create_table("t { d }")
    _committed(w, spark, "t", ["r0"])

    staged = Catalog._staged_append

    def slow_staged(self, name, cells):
        staged(self, name, cells)
        # a reader heal lands between parquet write and commit record
        self._add_rollback(name, 1, 99)

    monkeypatch.setattr(Catalog, "_staged_append", slow_staged)
    batch = MutationBatch(base_seq=5).put("r1", "d", "q", "v", ts=1)
    with pytest.raises(WriterFenced, match="mid-append"):
        w.append(
            "t",
            batch.to_df(spark) if writer == "spark" else batch.to_arrow(),
            commit_seq=5,
            op_kinds=[5],
        )
    monkeypatch.undo()
    assert {x.row_key for x in w.view("t").collect()} == {"r0"}


def test_reader_heal_converges(spark, tmp_path):
    """Healing must CONVERGE: after the first read cleans the dead
    state (including the expired lease), later reads observe nothing
    dead and skip recovery — no per-read recovery tax forever."""
    root = str(tmp_path / "cat")
    w = Catalog(spark, root, writer_id="writer-w")
    w.create_table("t { d }")
    _committed(w, spark, "t", ["r0"])
    lease = Path(root) / "t" / "writer.lease"
    lease.write_text(json.dumps({"holder": "dead", "expires": time.time() - 1}))

    r = Catalog(spark, root, writer_id="reader-only")
    assert r._observes_dead_state("t")
    assert r._reader_heal("t") is True
    assert not lease.exists()
    assert r._observes_dead_state("t") is False
    assert r._reader_heal("t") is False  # second read: nothing to do


def test_heal_storm_concurrent_readers_converge(spark, tmp_path):
    """Heal under contention: FOUR OS processes race the same dead
    state (expired reservation + txn marker with a missing record).
    Healing WRITES (rollbacks, roll-forward records, marker
    cleanup), so the round-6 locks must make concurrent heals
    converge to one consistent state — records present exactly once,
    marker gone, no torn visibility."""
    import subprocess
    import sys
    import textwrap

    root = str(tmp_path / "cat")
    w = Catalog(spark, root, writer_id="writer-w")
    w.create_table("t { d }")
    _committed(w, spark, "t", ["r0"])

    # crashed multi-table-style commit on one table: staged window with
    # an expired reservation, marker present, record missing
    b = MutationBatch().put("marked", "d", "q", "v")
    tok = w.begin_disjoint_commit("t", 1, ["marked"], "dying", ttl_s=300)
    w.stage_disjoint_data(tok, b)
    w.write_txn_marker("stormcafebabe01", {"t": tok})
    # ...plus a second torn window with NO marker (must roll back)
    lo2, hi2 = w._reserve_seq_window("t", 2, "dying2", ttl_s=300)
    w._publish_reservation("t", "dying2", lo2, hi2, [], 300.0)
    MutationBatch(base_seq=lo2).put("torn", "d", "q", "x", ts=1).to_df(
        spark
    ).write.mode("append").parquet(w.oplog_path("t"))
    for table in ["t"]:
        _expire_all(Path(root), table)

    repo = str(Path(__file__).resolve().parent.parent)
    child = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from tera_spark.catalog import Catalog
        cat = Catalog(None, {root!r}, writer_id="healer-" + sys.argv[1])
        # drive the non-Spark heal machinery directly (no JVM in child)
        for _ in range(3):
            cat._tail_checked.discard("t")
            cat._roll_forward_marked("t")
            cat._sweep_expired_reservations("t")
            cat._retire_dead_gaps("t")
        print("HEALED", flush=True)
        """
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", child, str(i)],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            text=True,
        )
        for i in range(4)
    ]
    outs = [p.communicate(timeout=120)[0] for p in procs]
    for p, out in zip(procs, outs):
        assert p.returncode == 0, out[-2000:]

    # converged: marker retired, marked row visible, torn row masked
    r = Catalog(spark, root, writer_id="reader-only")
    assert not list((Path(root) / ".txnlog").glob("txn-*.json"))
    assert {x.row_key for x in r.view("t").collect()} == {"r0", "marked"}
    recs = list((Path(root) / "t" / "commits").glob(f"{tok['hi']}.json"))
    assert len(recs) == 1
    st = r.table_stats("t")
    assert st["live_reservations"] == 0 and st["commit_gaps"] == 0


def _expire_all(root: Path, table: str) -> None:
    for p in (root / table / "casmeta").glob("resv-*.json"):
        rec = json.loads(p.read_text())
        rec["expires"] = time.time() - 1
        p.write_text(json.dumps(rec))


def test_stale_stage_dirs_swept_fresh_kept(spark, tmp_path):
    """A crashed writer's .stage-<uuid> dir is reaped once it ages past
    the ttl; a FRESH staging dir (a writer mid-batch right now) is
    never touched."""
    import os

    root = str(tmp_path / "cat")
    w = Catalog(spark, root, writer_id="w")
    w.create_table("t { d }")
    _committed(w, spark, "t", ["r0"])

    stale = Path(root) / "t" / ".stage-deadbeef"
    fresh = Path(root) / "t" / ".stage-cafebabe"
    for d in (stale, fresh):
        d.mkdir()
        (d / "part-x.parquet").write_bytes(b"junk")
    old = time.time() - 7200
    os.utime(stale, (old, old))

    r = Catalog(spark, root, writer_id="r")
    r._recover_tail("t")
    assert not stale.exists(), "stale staging dir must be reaped"
    assert fresh.exists(), "fresh staging dir belongs to a live writer"


def test_stale_stage_files_in_oplog_swept_fresh_kept(spark, tmp_path):
    """A driver-written batch stages as a hidden file inside the op-log;
    a crashed writer's one is reaped past the ttl, a fresh one kept, and
    no read path ever lists either."""
    import os

    root = str(tmp_path / "cat")
    w = Catalog(spark, root, writer_id="w")
    w.create_table("t { d }")
    _committed(w, spark, "t", ["r0"])
    oplog = Path(w.oplog_path("t"))
    stale, fresh = oplog / ".stage-deadbeef.parquet", oplog / ".stage-cafebabe.parquet"
    for f in (stale, fresh):
        f.write_bytes(b"junk")
    old = time.time() - 7200
    os.utime(stale, (old, old))
    assert [r.row_key for r in w.view("t").collect()] == ["r0"]

    r = Catalog(spark, root, writer_id="r")
    r._recover_tail("t")
    assert not stale.exists() and fresh.exists()
