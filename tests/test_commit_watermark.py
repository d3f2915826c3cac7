"""Group-commit atomic visibility: torn batches never surface.

The reference's TabletWriter makes a batch visible only after its WAL
append returns (src/io/tablet_writer.cc group commit). Here the commit
record (commits/<max_seq>.json, atomic rename) is that point: parquet
files landing without a record are a torn batch — masked by the
watermark, and permanently discarded (rollback window) by the next
writer's WAL-recovery step, so a rising watermark can never resurrect
them.
"""

from __future__ import annotations

import pytest

from tera_spark.catalog import Catalog
from tera_spark.client import Client
from tera_spark.model import CELL_SCHEMA, CellOp
from tera_spark.operators.seek import Seeker
from tera_spark.operators.view import fold_route


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "cat"))


def _torn_write(spark, cat, table, rows):
    """Simulate a writer that died between file write and commit
    record: parquet lands, no record."""
    df = spark.createDataFrame(rows, CELL_SCHEMA).coalesce(1)
    df.write.mode("append").parquet(cat.oplog_path(table))


def test_torn_batch_invisible_everywhere(spark, cat):
    client = Client(spark, str(cat.root))
    client.create_table("wm {c}")
    t = client.open_table("wm")
    t.put("r1", "c", "q", b"committed", ts=1)

    _torn_write(spark, cat, "wm", [("r2", "c", "q", 1, CellOp.PUT, b"torn", 50)])

    assert {r.row_key for r in cat.view("wm").collect()} == {"r1"}
    seeker = Seeker(cat, "wm")
    assert set(seeker.multi_get(["r1", "r2"])) == {"r1"}
    assert {c[0] for c in seeker.scan_range()} == {"r1"}


@pytest.mark.slow
def test_recovery_discards_tail_permanently(spark, cat):
    """The next writer's append must not resurrect torn rows even
    though the watermark rises above their seqs."""
    client = Client(spark, str(cat.root))
    client.create_table("wm2 {c}")
    t = client.open_table("wm2")
    t.put("r1", "c", "q", b"v1", ts=1)                       # seq 0, record 0

    _torn_write(spark, cat, "wm2", [("r9", "c", "q", 1, CellOp.PUT, b"torn", 50)])

    # a NEW writer process (fresh catalog+client) appends: recovery
    # rolls back the (0, 50] window, then allocates seq 51+
    cat2 = Catalog(spark, str(cat.root))
    t2 = Client(spark, str(cat.root)).open_table("wm2")
    t2.put("r3", "c", "q", b"v3", ts=1)

    assert cat2.commit_watermark("wm2") > 50
    vis = {r.row_key for r in cat2.view("wm2").collect()}
    assert vis == {"r1", "r3"}                               # torn r9 stays dead
    assert any(r["upto"] >= 50 for r in cat2._rollbacks("wm2"))
    # seek path agrees
    got = Seeker(cat2, "wm2").multi_get(["r1", "r3", "r9"])
    assert set(got) == {"r1", "r3"}


@pytest.mark.slow
def test_legacy_tables_without_records_read_unfiltered(spark, cat):
    """Direct-written layouts (no commits dir) keep today's behavior."""
    cat.create_table("legacy {c}")
    _torn_write(spark, cat, "legacy", [("rX", "c", "q", 1, CellOp.PUT, b"raw", 7)])
    assert cat.commit_watermark("legacy") is None
    assert {r.row_key for r in cat.view("legacy").collect()} == {"rX"}


def test_kv_commit_records(spark, cat):
    cat.create_table("wkv")
    cat.kv_put("wkv", "k1", b"v1")
    assert cat.commit_watermark("wkv") is not None
    assert Seeker(cat, "wkv").get_kv("k1") == b"v1"


def test_replication_mirrors_watermark(spark, tmp_path):
    from tera_spark.sources.replication import sync_replica

    a = Catalog(spark, str(tmp_path / "a"))
    b = Catalog(spark, str(tmp_path / "b"))
    ta = Client(spark, str(a.root))
    ta.create_table("rep {c}")
    t = ta.open_table("rep")
    t.put("r1", "c", "q", b"v1", ts=1)
    sync_replica(a, b, "rep")
    assert b.commit_watermark("rep") == a.commit_watermark("rep")
    assert {r.row_key for r in b.view("rep").collect()} == {"r1"}


def test_writer_lease_fences_second_writer(spark, tmp_path):
    """Writer-lease fencing (the ZK tablet-lock analog): the engine's
    single-committing-writer assumption becomes enforced — a second
    process's appends raise while another holder's lease is live,
    expiry allows takeover, and release frees the table."""
    import time as _time

    import pytest

    from tera_spark.catalog import Catalog, WriterFenced
    from tera_spark.operators.mutation import MutationBatch

    root = str(tmp_path / "cat")
    a = Catalog(spark, root, writer_id="writer-a")
    b = Catalog(spark, root, writer_id="writer-b")
    a.create_table("t { d }")

    a.acquire_writer_lease("t", "writer-a", ttl_s=300)
    # the holder writes; the other process is fenced
    a.append("t", MutationBatch(base_seq=1).put("r1", "d", "q", "v1", ts=1).to_df(spark),
             commit_seq=1, op_kinds=[5])
    with pytest.raises(WriterFenced):
        b.append("t", MutationBatch(base_seq=2).put("r2", "d", "q", "v2", ts=1).to_df(spark),
                 commit_seq=2, op_kinds=[5])
    with pytest.raises(WriterFenced):
        b.acquire_writer_lease("t", "writer-b")

    # renewal by the holder succeeds; release frees the table
    a.acquire_writer_lease("t", "writer-a", ttl_s=300)
    a.release_writer_lease("t", "writer-a")
    b.append("t", MutationBatch(base_seq=2).put("r2", "d", "q", "v2", ts=1).to_df(spark),
             commit_seq=2, op_kinds=[5])
    assert {r.row_key for r in a.view("t").collect()} == {"r1", "r2"}

    # expired lease: takeover allowed (crash-fencing path)
    b.acquire_writer_lease("t", "writer-b", ttl_s=0)
    _time.sleep(0.01)
    a.acquire_writer_lease("t", "writer-a", ttl_s=300)
    a.release_writer_lease("t", "writer-a")

    # tables with no lease file stay open-access (back-compat)
    a.create_table("open { d }")
    b.append("open", MutationBatch(base_seq=1).put("r", "d", "q", "v", ts=1).to_df(spark),
             commit_seq=1, op_kinds=[5])


def test_commit_cas_two_writers_serialize(spark, tmp_path):
    """Two cooperating committers on one table need no fence of their
    own: each append_cas takes a disjoint window from the table's seq
    counter, both batches land and the watermark is the higher record
    (append_cas vs the lease's hard fence, which refuses the second)."""
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    root = str(tmp_path / "cat")
    a = Catalog(spark, root, writer_id="writer-a")
    b = Catalog(spark, root, writer_id="writer-b")
    a.create_table("t { d }")

    hi_a = a.append_cas("t", MutationBatch().put("ra", "d", "q", "va", ts=1))
    hi_b = b.append_cas(
        "t", MutationBatch().put("rb", "d", "q", "vb", ts=1).put("rc", "d", "q", "vc", ts=1)
    )
    hi_c = a.append_cas("t", MutationBatch().put("rd", "d", "q", "vd", ts=1))
    assert hi_a < hi_b - 1 < hi_b < hi_c  # [lo, hi] windows, strictly ordered
    assert a.commit_watermark("t") == b.commit_watermark("t") == hi_c
    assert {r.row_key for r in b.view("t").collect()} == {"ra", "rb", "rc", "rd"}


@pytest.mark.slow
def test_commit_cas_two_os_processes_contend(spark, tmp_path):
    """A REAL two-process race on the same table root: a child Python
    process (its own JVM, its own Catalog with a different writer_id)
    commits 6 batches through append_cas while this process commits 6
    concurrently, every other one with ``rows`` (a row manifest) and
    the rest without. The seq counter's lock is the cross-process
    primitive (the reference orders commits from one sequence,
    timeoracle.h). Every batch from both writers must land, with
    pairwise-disjoint seq windows and a watermark equal to the global
    max."""
    import json
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    repo = str(Path(__file__).resolve().parent.parent)
    root = str(tmp_path / "cat")
    a = Catalog(spark, root, writer_id="proc-main")
    a.create_table("t { d }")

    child = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from tera_spark.catalog import Catalog
        from tera_spark.operators.mutation import MutationBatch

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .appName("cas-child")
            .getOrCreate()
        )
        cat = Catalog(spark, {root!r}, writer_id="proc-child")
        for i in range(6):
            b = MutationBatch().put(f"b{{i}}", "d", "q", "vb", ts=1)
            cat.append_cas("t", b, rows=b.row_keys if i % 2 else None)
        print("CHILD-DONE")
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", child],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    try:
        for i in range(6):
            b = MutationBatch().put(f"a{i}", "d", "q", "va", ts=1)
            a.append_cas("t", b, rows=b.row_keys if i % 2 else None)
        out, _ = proc.communicate(timeout=300)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert proc.returncode == 0 and "CHILD-DONE" in out, out

    rows = {r.row_key for r in a.view("t").collect()}
    assert rows == {f"a{i}" for i in range(6)} | {f"b{i}" for i in range(6)}
    # one record per batch, windows pairwise disjoint, watermark = max
    recs = sorted(
        (r.get("lo", r["seq"]), r["seq"])
        for r in (json.loads(p.read_text()) for p in (Path(root) / "t" / "commits").glob("*.json"))
    )
    assert len(recs) == 12
    assert all(h1 < l2 for (_, h1), (l2, _) in zip(recs, recs[1:])), recs
    assert a.commit_watermark("t") == recs[-1][1]
    # and every cell's seq is covered by exactly the committed range
    seqs = sorted(r.seq for r in a.read_oplog("t").select("seq").collect())
    assert len(seqs) == 12 and seqs[-1] == recs[-1][1]


def test_commit_cas_takeover_after_crash_no_torn_visibility(spark, tmp_path):
    """A committer that died between parquet append and commit record
    leaves a torn tail. The next committer's recovery rolls the torn
    window back, and the new batch's sequences sit ABOVE the torn
    tail — the dead batch never becomes visible."""
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    root = str(tmp_path / "cat")
    a = Catalog(spark, root, writer_id="writer-a")
    b = Catalog(spark, root, writer_id="writer-b")
    a.create_table("t { d }")
    hi = a.append_cas("t", MutationBatch().put("r0", "d", "q", "v0", ts=1))

    # simulate A dying mid-commit: parquet written above the watermark,
    # NO commit record
    torn = MutationBatch(base_seq=hi + 1).put("torn", "d", "q", "dead", ts=1)
    torn.to_df(spark).write.mode("append").parquet(a.oplog_path("t"))

    hi_b = b.append_cas("t", MutationBatch().put("r1", "d", "q", "v1", ts=1))
    assert hi_b > hi + 1  # allocated above the torn tail, not inside it
    keys = {r.row_key for r in b.view("t").collect()}
    assert keys == {"r0", "r1"}, f"torn batch leaked: {keys}"


def test_expired_claim_takeover_single_winner_two_processes(tmp_path):
    """The ADVICE race: two processes both observe the SAME expired
    claim and race the takeover through the catalog's arbiter (the
    claim that guards the writer lease, the seq counter and the
    rollbacks list). The in-place tmp+rename takeover let BOTH win;
    per round exactly one of the two racers may win. No Spark needed:
    the arbiter is pure filesystem."""
    import json
    import subprocess
    import sys
    import textwrap
    import time as _time
    from pathlib import Path

    from tera_spark.catalog import Catalog

    repo = str(Path(__file__).resolve().parent.parent)
    root = str(tmp_path / "cat")
    rounds = 40
    cat = Catalog(None, root, writer_id="proc-main")
    d = Path(root) / "slots"
    d.mkdir(parents=True)
    sync = Path(root) / "sync"
    sync.mkdir()
    for k in range(rounds):  # pre-seed one EXPIRED claim per round
        (d / f"slot-{k}.lock").write_text(
            json.dumps({"holder": "dead-writer", "expires": 0.0})
        )

    child = textwrap.dedent(
        f"""
        import sys, time
        from pathlib import Path
        sys.path.insert(0, {repo!r})
        from tera_spark.catalog import Catalog

        cat = Catalog(None, {root!r}, writer_id="proc-child")
        d = Path({str(d)!r})
        sync = Path({root!r}) / "sync"
        for k in range({rounds}):
            (sync / f"ready-{{k}}").touch()
            while not (sync / f"go-{{k}}").exists():
                pass
            won = cat.arbiter.try_claim(d / f"slot-{{k}}.lock", "proc-child", 60.0)
            print(f"RES {{k}} {{int(won)}}", flush=True)
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", child],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    mine = {}
    try:
        for k in range(rounds):
            deadline = _time.time() + 30
            while not (sync / f"ready-{k}").exists():
                assert _time.time() < deadline, "child never became ready"
                assert proc.poll() is None, proc.stdout.read()
            (sync / f"go-{k}").touch()
            mine[k] = cat.arbiter.try_claim(d / f"slot-{k}.lock", "proc-main", 60.0)
        out, _ = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert proc.returncode == 0, out
    theirs = {}
    for line in out.splitlines():
        if line.startswith("RES "):
            _, k, won = line.split()
            theirs[int(k)] = bool(int(won))
    assert len(theirs) == rounds
    for k in range(rounds):
        assert mine[k] + theirs[k] == 1, (
            f"round {k}: main={mine[k]} child={theirs[k]} — takeover must "
            "have exactly one winner"
        )
        # the surviving claim records the actual winner
        holder = cat.arbiter.state(d / f"slot-{k}.lock")[1]["holder"]
        assert holder == ("proc-main" if mine[k] else "proc-child")
    # no leaked takeover temp files
    assert not list(d.glob("*.dead-*")) and not list(d.glob("*.w-*"))


def test_expired_claim_takeover_sequential_semantics(tmp_path):
    """Takeover of an expired claim wins and installs a LIVE claim;
    a second attempt then loses to it; conditional release never
    unlinks another holder's claim; a torn record is taken over."""
    import json

    from tera_spark.catalog import Catalog

    a = Catalog(None, str(tmp_path / "cat"), writer_id="wa")
    arb = a.arbiter
    p = tmp_path / "slot-7.lock"
    p.write_text(json.dumps({"holder": "dead", "expires": 0.0}))

    def holder(q):
        st = arb.state(q)
        return None if st is None or st[1] is None else st[1]["holder"]

    assert arb.try_claim(p, "wa", 60.0)
    assert holder(p) == "wa"
    assert not arb.try_claim(p, "wb", 60.0)
    # conditional release: wb cannot release wa's claim
    arb.release(p, "wb")
    assert holder(p) == "wa"
    arb.release(p, "wa")
    assert holder(p) is None
    # corrupt claim (torn write by a dead holder) is also taken over
    torn = tmp_path / "slot-9.lock"
    torn.write_text("{torn")
    assert arb.try_claim(torn, "wb", 60.0)
    assert holder(torn) == "wb"


def test_disjoint_row_sets_commit_without_slot(spark, tmp_path):
    """Row manifests (reference granularity: per-row lock columns,
    global_txn.cc:578-720): writers whose row sets don't intersect
    commit through their manifests; a writer whose rows intersect a
    live manifest commits anyway, through a plain counter window above
    the others. Windows never interleave (seq counter), no window is
    left behind as a gap, and every committed batch is visible."""
    import json
    import time as _time
    from pathlib import Path

    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    root = str(tmp_path / "cat")
    a = Catalog(spark, root, writer_id="writer-a")
    b = Catalog(spark, root, writer_id="writer-b")
    a.create_table("t { d }")
    hi0 = a.append_cas("t", MutationBatch().put("base", "d", "q", "v", ts=1))

    ba = MutationBatch().put("xa", "d", "q", "va", ts=1).put("xb", "d", "q", "vb", ts=1)
    bb = MutationBatch().put("ya", "d", "q", "wa", ts=1)
    hi_a = a.append_cas("t", ba, rows=ba.row_keys)
    hi_b = b.append_cas("t", bb, rows=bb.row_keys)
    assert hi_a >= hi0 + 2 and hi_b > hi_a  # windows disjoint
    keys = {r.row_key for r in a.view("t").collect()}
    assert keys == {"base", "xa", "xb", "ya"}

    # a live manifest holds xa: an intersecting writer lands above it
    other = Path(root) / "t" / "casmeta" / "resv-other.json"
    other.write_text(
        json.dumps({"holder": "other", "lo": 99, "hi": 99, "rows": ["xa"],
                    "expires": _time.time() + 60})
    )
    bc = MutationBatch().put("xa", "d", "q", "clash", ts=2)
    hi_c = b.append_cas("t", bc, rows=bc.row_keys)
    assert hi_c > hi_b
    assert not (Path(root) / "t" / "casmeta" / "resv-writer-b.json").exists()
    other.unlink()
    assert b._masked_gaps("t") == []
    assert [r.value for r in a.view("t").collect() if r.row_key == "xa"] == [b"clash"]


@pytest.mark.slow
def test_disjoint_commits_two_os_processes(spark, tmp_path):
    """Two OS processes commit disjoint-row batches through their row
    manifests: both land every batch, seq windows are pairwise
    disjoint, and all rows are visible."""
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    repo = str(Path(__file__).resolve().parent.parent)
    root = str(tmp_path / "cat")
    a = Catalog(spark, root, writer_id="proc-main")
    a.create_table("t { d }")
    a.append_cas("t", MutationBatch().put("base", "d", "q", "v", ts=1))

    child = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from tera_spark.catalog import Catalog
        from tera_spark.operators.mutation import MutationBatch

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .appName("disjoint-child")
            .getOrCreate()
        )
        cat = Catalog(spark, {root!r}, writer_id="proc-child")
        for i in range(4):
            b = MutationBatch().put(f"c{{i}}", "d", "q", "vc", ts=1)
            cat.append_cas("t", b, rows=b.row_keys)
        print("CHILD-DONE")
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", child],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    try:
        for i in range(4):
            b = MutationBatch().put(f"m{i}", "d", "q", "vm", ts=1)
            a.append_cas("t", b, rows=b.row_keys)
        out, _ = proc.communicate(timeout=300)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert proc.returncode == 0 and "CHILD-DONE" in out, out

    rows = {r.row_key for r in a.view("t").collect()}
    assert rows == {"base"} | {f"m{i}" for i in range(4)} | {f"c{i}" for i in range(4)}
    # every commit record's window is disjoint from every other
    import json as _json

    recs = []
    for p in (Path(root) / "t" / "commits").glob("*.json"):
        r = _json.loads(p.read_text())
        recs.append((r.get("lo", r["seq"]), r["seq"]))
    recs.sort()
    assert len(recs) == 9
    for (lo1, hi1), (lo2, hi2) in zip(recs, recs[1:]):
        assert hi1 < lo2, f"windows interleave: {recs}"


def test_backed_off_disjoint_commit_leaves_no_gap(spark, tmp_path):
    """A row-manifest commit that backs off on an intersecting live
    manifest retires the window it reserved at once: once a later
    record lands above it, reads have no gap to mask and transaction
    snapshots none to record."""
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    root = str(tmp_path / "cat")
    a = Catalog(spark, root, writer_id="writer-a")
    b = Catalog(spark, root, writer_id="writer-b")
    a.create_table("t { d }")
    tok = a.begin_disjoint_commit("t", 1, ["x"], "writer-a")
    assert b.begin_disjoint_commit("t", 1, ["x"], "writer-b") is None
    a.finish_disjoint_commit(tok, MutationBatch().put("x", "d", "q", "vx", ts=1))
    y = MutationBatch().put("y", "d", "q", "vy", ts=1)
    b.append_cas("t", y, rows=y.row_keys)
    assert b._masked_gaps("t") == []
    assert b.table_stats("t")["commit_gaps"] == 0
    assert len(b._rollbacks("t")) == 1  # the backed-off window
    assert {r.row_key for r in b.view("t").collect()} == {"x", "y"}


def test_crashed_fast_path_window_never_visible(spark, tmp_path):
    """A fast-path committer that died AFTER its parquet landed but
    BEFORE its commit record: a later (higher) commit advances the
    watermark past the dead window — the gap mask keeps the dead rows
    invisible, and the next writer's recovery rolls the expired window
    back permanently."""
    import json
    import time as _time
    from pathlib import Path

    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    root = str(tmp_path / "cat")
    a = Catalog(spark, root, writer_id="writer-a")
    a.create_table("t { d }")
    a.append_cas("t", MutationBatch().put("r0", "d", "q", "v0", ts=1))

    # dead fast-path writer: reservation + parquet, no commit record
    lo, hi = a._reserve_seq_window("t", 1, "dead-writer", ttl_s=0.05)
    dead = MutationBatch(base_seq=lo).put("dead", "d", "q", "x", ts=1)
    dead.to_df(spark).write.mode("append").parquet(a.oplog_path("t"))
    (Path(root) / "t" / "casmeta" / "resv-dead-writer.json").write_text(
        json.dumps({"holder": "dead-writer", "lo": lo, "hi": hi,
                    "rows": ["dead"], "expires": _time.time() + 0.05})
    )

    # a later commit lands ABOVE the dead window -> watermark > hi
    live = MutationBatch().put("r1", "d", "q", "v1", ts=1)
    hi_live = a.append_cas("t", live, rows=live.row_keys)
    assert hi_live > hi
    # the dead window sits below the watermark but is gap-masked
    keys = {r.row_key for r in a.view("t").collect()}
    assert keys == {"r0", "r1"}, f"dead window leaked: {keys}"

    _time.sleep(0.1)  # reservation expires
    # a fresh writer's recovery: gap -> permanent rollback, still masked
    b = Catalog(spark, root, writer_id="writer-b")
    nxt = MutationBatch().put("r2", "d", "q", "v2", ts=1)
    b.append_cas("t", nxt, rows=nxt.row_keys)
    keys = {r.row_key for r in b.view("t").collect()}
    assert keys == {"r0", "r1", "r2"}, f"dead window resurrected: {keys}"


def test_seek_path_masks_commit_gaps(spark, tmp_path):
    """The client-side seek path (no Spark job) must agree with
    read_oplog on gap visibility: rows inside an in-flight concurrent
    window (reserved, parquet landed, record pending, BELOW a later
    watermark) are invisible to point gets and interactive range scans."""
    import json
    import time as _time
    from pathlib import Path

    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch
    from tera_spark.operators.seek import Seeker

    root = str(tmp_path / "cat")
    a = Catalog(spark, root, writer_id="writer-a")
    a.create_table("t { d }")
    a.append_cas("t", MutationBatch().put("r0", "d", "q", "v0", ts=1))

    # in-flight fast-path writer: reservation + parquet, record pending
    lo, hi = a._reserve_seq_window("t", 1, "inflight", ttl_s=300.0)
    mid = MutationBatch(base_seq=lo).put("pending", "d", "q", "x", ts=1)
    mid.to_df(spark).write.mode("append").parquet(a.oplog_path("t"))
    (Path(root) / "t" / "casmeta" / "resv-inflight.json").write_text(
        json.dumps({"holder": "inflight", "lo": lo, "hi": hi,
                    "rows": ["pending"], "expires": _time.time() + 300})
    )
    live = MutationBatch().put("r1", "d", "q", "v1", ts=1)
    a.append_cas("t", live, rows=live.row_keys)  # watermark rises past gap

    seeker = Seeker(a, "t")
    assert seeker.get("pending") == []  # gap-masked point read
    keys = {c[0] for c in seeker.scan_range(start="a", end="z")}
    assert keys == {"r0", "r1"}, f"gap leaked into seek scan: {keys}"
    # Spark fold agrees
    assert {r.row_key for r in a.view("t").collect()} == {"r0", "r1"}

    # once the record lands, both paths see it
    a._record_commit("t", hi, [1], lo=lo)
    assert [c[0] for c in Seeker(a, "t").get("pending")] == ["pending"]


def test_review_fixes_round5(spark, tmp_path):
    """Regression pins for the round-5 code-review findings on the
    commit-CAS machinery (see commit message for the full scenarios)."""
    import json
    import time as _time
    from pathlib import Path

    from tera_spark.catalog import Catalog, WriterFenced
    from tera_spark.operators.mutation import MutationBatch
    from tera_spark.operators.txn import GlobalTransaction, GlobalTxnConflict

    root = str(tmp_path / "cat")
    a = Catalog(spark, root, writer_id="writer-a")
    a.create_table("t { d }")

    # --- F6: a legitimate watermark of 0 floors reservations at 1
    a.append_cas("t", MutationBatch().put("r0", "d", "q", "v0", ts=1))
    assert a.commit_watermark("t") == 0
    lo, hi = a._reserve_seq_window("t", 1, "probe", ttl_s=60)
    assert lo >= 1, f"window overlapped committed seq 0: [{lo},{hi}]"

    # --- F5: auto writer ids are process+instance unique, not id(self)
    b = Catalog(spark, root)
    c = Catalog(spark, root)
    assert b._auto_writer_id != c._auto_writer_id

    # --- F1: an in-flight gap-masked window BELOW the txn snapshot
    # that commits before validation must conflict the txn
    lo2, hi2 = a._reserve_seq_window("t", 1, "inflight", ttl_s=300)
    MutationBatch(base_seq=lo2).put("x", "d", "q", "old-hidden", ts=5).to_df(
        spark
    ).write.mode("append").parquet(a.oplog_path("t"))
    (Path(root) / "t" / "casmeta" / "resv-inflight.json").write_text(
        json.dumps({"holder": "inflight", "lo": lo2, "hi": hi2,
                    "rows": ["x"], "expires": _time.time() + 300})
    )
    later = MutationBatch().put("y", "d", "q", "vy", ts=1)
    a.append_cas("t", later, rows=later.row_keys)  # watermark above the gap
    txn = GlobalTransaction(a)
    assert txn.read("t", "x", "d", "q") is None  # gap-masked at snapshot
    txn.put("t", "x", "d", "q", b"stale-derived", ts=9)
    a._record_commit("t", hi2, [5], lo=lo2)  # the in-flight commit lands
    (Path(root) / "t" / "casmeta" / "resv-inflight.json").unlink()
    with pytest.raises(GlobalTxnConflict):
        txn.commit(cas=True)  # seq <= snapshot but inside a snap-time gap

    # --- F3: a reserved window rolled back mid-commit fails LOUDLY
    lo3, hi3 = a._reserve_seq_window("t", 1, "slowpoke", ttl_s=60)
    a._add_rollback("t", lo3 - 1, hi3)  # peer recovery swept + rolled back
    slow = MutationBatch(base_seq=lo3).put("slow", "d", "q", "v", ts=1)
    with pytest.raises(WriterFenced):
        a.append("t", slow.to_df(spark), commit_seq=hi3, commit_lo=lo3,
                 op_kinds=slow.op_kinds)

    # --- F10: dead gaps are retired to rollback windows by recovery,
    # and reads stay correct with a bounded gap mask
    fresh = Catalog(spark, root, writer_id="writer-f")
    nxt = MutationBatch().put("z", "d", "q", "vz", ts=1)
    fresh.append_cas("t", nxt, rows=nxt.row_keys)
    assert fresh._masked_gaps("t") == []  # every dead gap now a rollback
    keys = {r.row_key for r in fresh.view("t").collect()}
    assert keys == {"r0", "x", "y", "z"}


def test_slot_path_inflight_survives_peer_recovery(spark, tmp_path):
    """F2: a committer's in-flight batch (window reserved, a rows=[]
    window-liveness manifest published, parquet staged, record
    pending) must not be rolled back by a new writer's recovery."""
    import json
    import time as _time
    from pathlib import Path

    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    root = str(tmp_path / "cat")
    a = Catalog(spark, root, writer_id="writer-a")
    a.create_table("t { d }")
    a.append_cas("t", MutationBatch().put("r0", "d", "q", "v0", ts=1))

    # simulate writer S mid-commit: window reserved, manifest
    # published, parquet landed, record pending
    lo, hi = a._reserve_seq_window("t", 1, "slotter", ttl_s=300)
    a._publish_reservation("t", "slotter", lo, hi, [], 300.0)
    MutationBatch(base_seq=lo).put("mid", "d", "q", "vm", ts=1).to_df(
        spark
    ).write.mode("append").parquet(a.oplog_path("t"))

    # a NEW writer process appends: recovery must leave S's window alone
    b = Catalog(spark, root, writer_id="writer-b")
    nxt = MutationBatch().put("r1", "d", "q", "v1", ts=1)
    b.append_cas("t", nxt, rows=nxt.row_keys)
    assert not any(
        r["after"] < lo and hi <= r["upto"] for r in b._rollbacks("t")
    ), "recovery rolled back a live window"

    # S finishes: its record lands and the rows become visible
    a._record_commit("t", hi, [5], lo=lo)
    (Path(root) / "t" / "casmeta" / "resv-slotter.json").unlink()
    assert {r.row_key for r in b.view("t").collect()} == {"r0", "mid", "r1"}


def test_expired_lease_takeover_single_winner_two_processes(tmp_path):
    """Round-6 task: the lease twin of the claim-takeover hammer. Two
    processes both observe the SAME expired writer lease and race
    acquire_writer_lease. The old in-place tmp.replace takeover let
    BOTH return a lease record (both believe they hold the fence —
    the exact two-writers-interleaving the lease exists to prevent).
    Routed through the arbiter's generation-slot claim, exactly one
    racer per round may win; the loser gets WriterFenced."""
    import json
    import subprocess
    import sys
    import textwrap
    import time as _time
    from pathlib import Path

    from tera_spark.catalog import Catalog, WriterFenced

    repo = str(Path(__file__).resolve().parent.parent)
    root = str(tmp_path / "cat")
    rounds = 40
    cat = Catalog(None, root, writer_id="proc-main")
    sync = Path(root) / "sync"
    sync.mkdir(parents=True)
    for k in range(rounds):  # one table per round, pre-seeded EXPIRED lease
        d = Path(root) / f"t{k}"
        d.mkdir()
        (d / "writer.lease").write_text(
            json.dumps({"holder": "dead-writer", "expires": 0.0})
        )

    child = textwrap.dedent(
        f"""
        import sys, time
        from pathlib import Path
        sys.path.insert(0, {repo!r})
        from tera_spark.catalog import Catalog, WriterFenced

        cat = Catalog(None, {root!r}, writer_id="proc-child")
        sync = Path({root!r}) / "sync"
        for k in range({rounds}):
            (sync / f"ready-{{k}}").touch()
            while not (sync / f"go-{{k}}").exists():
                pass
            try:
                cat.acquire_writer_lease(f"t{{k}}", "proc-child", ttl_s=60)
                won = 1
            except WriterFenced:
                won = 0
            print(f"RES {{k}} {{won}}", flush=True)
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", child],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    mine = {}
    try:
        for k in range(rounds):
            deadline = _time.time() + 30
            while not (sync / f"ready-{k}").exists():
                assert _time.time() < deadline, "child never became ready"
                assert proc.poll() is None, proc.stdout.read()
            (sync / f"go-{k}").touch()
            try:
                cat.acquire_writer_lease(f"t{k}", "proc-main", ttl_s=60)
                mine[k] = True
            except WriterFenced:
                mine[k] = False
        out, _ = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert proc.returncode == 0, out
    theirs = {}
    for line in out.splitlines():
        if line.startswith("RES "):
            _, k, won = line.split()
            theirs[int(k)] = bool(int(won))
    assert len(theirs) == rounds
    for k in range(rounds):
        assert mine[k] + theirs[k] == 1, (
            f"round {k}: main={mine[k]} child={theirs[k]} — lease takeover "
            "must have exactly one winner"
        )
        # the surviving lease records the actual winner, live
        rec = cat._read_lease(f"t{k}")
        assert rec["holder"] == ("proc-main" if mine[k] else "proc-child")
        assert rec["expires"] > _time.time()
        # no leaked takeover temps
        assert not list((Path(root) / f"t{k}").glob("*.dead-*"))
        assert not list((Path(root) / f"t{k}").glob("*.w-*"))


def test_lease_live_renewal_survives_concurrent_takeover_probe(tmp_path):
    """A live self-renewal racing an (incorrect-but-possible) takeover
    probe: the prober must lose because the aside-verify sees a live
    record and restores it. Sequential re-check of the protocol pieces
    the hammer test exercises under load."""
    import time as _time

    import pytest

    from tera_spark.catalog import Catalog, WriterFenced

    root = str(tmp_path / "cat")
    a = Catalog(None, root, writer_id="wa")
    b = Catalog(None, root, writer_id="wb")
    (a.root / "t").mkdir(parents=True)

    rec = a.acquire_writer_lease("t", "wa", ttl_s=60)
    assert rec["holder"] == "wa"
    # live renewal extends
    rec2 = a.acquire_writer_lease("t", "wa", ttl_s=60)
    assert rec2["expires"] >= rec["expires"]
    # a second writer is fenced off a live lease
    with pytest.raises(WriterFenced):
        b.acquire_writer_lease("t", "wb", ttl_s=60)
    # lapsed lease: the ex-holder gets no renewal shortcut but CAN
    # re-acquire through the claim race; a fresh taker can too
    a.acquire_writer_lease("t", "wa", ttl_s=0)
    _time.sleep(0.01)
    assert b.acquire_writer_lease("t", "wb", ttl_s=60)["holder"] == "wb"
    with pytest.raises(WriterFenced):
        a.acquire_writer_lease("t", "wa", ttl_s=60)
    b.release_writer_lease("t", "wb")
    assert a.acquire_writer_lease("t", "wa", ttl_s=60)["holder"] == "wa"


def test_op_kinds_summary_no_lost_update_two_processes(tmp_path):
    """The 16-writer smoke's second catch: two concurrent committers
    racing the rolling op-kinds summary could (a) crash on the shared
    tmp name and (b) last-write-wins each other, DROPPING a kind and
    mis-routing a fast fold over a mixed log. Under the round-6 slot
    lock, interleaved _record_commit calls from two OS processes must
    union to exactly the full kind set."""
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    from tera_spark.catalog import Catalog

    repo = str(Path(__file__).resolve().parent.parent)
    root = str(tmp_path / "cat")
    rounds = 60
    cat = Catalog(None, root, writer_id="main")
    (Path(root) / "t").mkdir(parents=True)
    sync = Path(root) / "sync"
    sync.mkdir()

    child = textwrap.dedent(
        f"""
        import sys
        from pathlib import Path
        sys.path.insert(0, {repo!r})
        from tera_spark.catalog import Catalog
        cat = Catalog(None, {root!r}, writer_id="child")
        sync = Path({root!r}) / "sync"
        for k in range({rounds}):
            (sync / f"ready-{{k}}").touch()
            while not (sync / f"go-{{k}}").exists():
                pass
            cat._record_commit("t", 2 * k + 1, [7])   # ADD
        print("DONE", flush=True)
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", child],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    try:
        import time as _time

        for k in range(rounds):
            deadline = _time.time() + 30
            while not (sync / f"ready-{k}").exists():
                assert _time.time() < deadline, "child never ready"
                assert proc.poll() is None, proc.stdout.read()
            (sync / f"go-{k}").touch()
            cat._record_commit("t", 2 * k + 2, [5])   # PUT, racing the ADD
        out, _ = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert proc.returncode == 0, out
    assert cat._op_kinds_union("t") == {5, 7}, cat._op_kinds_union("t")
    # and the routing consequence: a mixed table must NOT fast-fold
    assert fold_route(cat._op_kinds_union("t")) == "general"


def test_slot_lock_same_holder_reentry_loses_without_renew():
    """Mutual exclusion for the spin locks: a SECOND acquisition by the
    same holder while its record is live must LOSE (two driver threads
    share one writer_id — both entering the alloc critical section
    would corrupt the counter). Only renew=True (the lease path) may
    supersede its own live record."""
    import tempfile
    from pathlib import Path

    from tera_spark.coordination import PosixLinkArbiter

    arb = PosixLinkArbiter()
    with tempfile.TemporaryDirectory() as d:
        p = Path(d) / "x.lock"
        assert arb.try_claim(p, "w", 60.0)
        assert not arb.try_claim(p, "w", 60.0)  # re-entry loses
        assert arb.try_claim(p, "w", 60.0, renew=True)  # lease-style
        arb.release(p, "w")
        assert arb.try_claim(p, "w", 60.0)  # fresh after release


def test_reserve_seq_window_threaded_disjoint():
    """Eight threads on ONE Catalog (one writer_id) hammer the
    reservation counter: every window must be disjoint — the strict
    same-holder mutual exclusion the renew flag preserves. (With
    default-renew semantics, threads sharing the writer_id could all
    'renew' into the critical section and hand out overlapping
    windows.)"""
    import tempfile
    import threading
    from pathlib import Path

    from tera_spark.catalog import Catalog

    import json as _json

    with tempfile.TemporaryDirectory() as d:
        cat = Catalog(None, d, writer_id="one-writer")
        (Path(d) / "t" / "casmeta").mkdir(parents=True)
        # pre-seed the counter: the cold-start path reads parquet via
        # Spark, which this pure-filesystem test deliberately lacks
        (Path(d) / "t" / "casmeta" / "alloc.json").write_text(_json.dumps({"next": 0}))
        got: list[tuple[int, int]] = []
        lock = threading.Lock()

        def worker():
            for _ in range(25):
                w = cat._reserve_seq_window("t", 3, "one-writer", ttl_s=60.0)
                with lock:
                    got.append(w)

        ts = [threading.Thread(target=worker) for _ in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert len(got) == 200
        spans = sorted(got)
        assert all(hi < lo2 for (_, hi), (lo2, _) in zip(spans, spans[1:])), (
            "overlapping reserved windows"
        )


def test_recovery_spares_window_committed_mid_scan(spark, tmp_path):
    """A recovering writer meets a peer's staged window, and the peer
    lands its record between the recoverer's reads. The window is
    live or recorded at every step, so recovery must not roll it back
    (it did when the watermark was read before the raw max and the
    live reservations)."""
    from tera_spark.operators.mutation import MutationBatch

    root = str(tmp_path / "cat")
    peer = Catalog(spark, root, writer_id="peer")
    peer.create_table("t { d }")
    peer.append_cas("t", MutationBatch().put("seed", "d", "q", "s", ts=1))
    batch = MutationBatch().put("mid", "d", "q", "v", ts=1)
    tok = peer.begin_disjoint_commit("t", len(batch), batch.row_keys, "peer", ttl_s=300)
    peer.stage_disjoint_data(tok, batch)

    rec = Catalog(spark, root, writer_id="rec")
    raw_max_seq = rec.raw_max_seq

    def raw_then_peer_commits(name):
        top = raw_max_seq(name)
        peer.record_disjoint_commit(tok)
        return top

    rec.raw_max_seq = raw_then_peer_commits
    rec._recover_tail("t")
    assert rec._rollbacks("t") == []
    assert sorted(r.row_key for r in Catalog(spark, root).view("t").collect()) == ["mid", "seed"]
