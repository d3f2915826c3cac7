"""The op-log index (tera_spark/oplog_index.py): footer facts per file
identity, the commit census, and lock-free sharing across threads."""

from __future__ import annotations

import json
import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq

from tera_spark.oplog_index import OplogIndex


def _part(d, name, keys, seqs, **kw):
    """Write an op-log file the way the catalog does: elsewhere, then
    renamed in."""
    t = pa.table({
        "row_key": keys,
        "op": pa.array([2] * len(keys), pa.int8()),
        "seq": pa.array(seqs, pa.int64()),
    })
    tmp = d.parent / f".{name}.tmp"
    pq.write_table(t, str(tmp), **kw)
    tmp.replace(d / name)


def _record(d, seq, lo=None):
    rec = {"seq": seq} | ({} if lo is None else {"lo": lo})
    tmp = d / f".{seq}.tmp"
    tmp.write_text(json.dumps(rec))
    tmp.replace(d / f"{seq}.json")


def test_file_facts_and_same_name_rewrite(tmp_path):
    oplog = tmp_path / "oplog"
    oplog.mkdir()
    _part(oplog, "part-a.parquet", ["b", "d"], [3, 9])
    _part(oplog, "part-b.parquet", ["a"], [11], write_statistics=False)
    (oplog / "_SUCCESS").touch()
    idx = OplogIndex(oplog)
    a, b = idx.files()
    size = pq.read_metadata(oplog / "part-a.parquet").row_group(0).total_byte_size
    assert (a.name, a.groups, a.rows) == ("part-a.parquet", (("b", "d", 2, size),), 2)
    assert (a.key_lo, a.key_hi) == ("b", "d")
    assert (a.seq_lo, a.seq_hi, a.op_lo, a.op_hi) == (3, 9, 2, 2)
    assert a.bytes == os.path.getsize(oplog / "part-a.parquet")
    # no statistics: key bounds unknown, seq bounds read from the column
    assert (b.key_lo, b.seq_lo, b.seq_hi) == (None, 11, 11)
    assert idx.raw_max_seq() == 11
    assert idx.files()[0] is a  # unchanged listing: no footer re-read

    _part(oplog, "part-a.parquet", ["b", "c", "z"], [3, 9, 40])  # same name
    assert [m.key_hi for m in idx.files()] == ["z", None]
    assert idx.raw_max_seq() == 40


def test_census_watermark_and_gaps(tmp_path):
    commits = tmp_path / "commits"
    commits.mkdir()
    idx = OplogIndex(tmp_path / "oplog", commits)
    assert idx.census() == (None, ())
    for seq, lo in ((0, None), (4, 3), (9, 7), (12, 12)):
        _record(commits, seq, lo)
    (commits / "claim-9.lock").touch()  # non-record files (claim files of older versions) are skipped
    assert idx.census(gaps=False) == (12, ())
    assert idx.census() == (12, ((1, 2), (5, 6), (10, 11)))
    _record(commits, 15, 14)
    assert idx.census() == (15, ((1, 2), (5, 6), (10, 11), (13, 13)))

    # major compaction deletes the records and restarts seq at 0: a
    # record reappearing under an old name is read again
    for p in commits.glob("*.json"):
        p.unlink()
    _record(commits, 0)
    assert idx.census() == (0, ())
    _record(commits, 4)
    assert idx.census() == (4, ())


def test_incremental_census_matches_a_fresh_walk(tmp_path):
    """Windows recorded out of order: after every landing, the census a
    long-lived index keeps (resumed or re-walked) equals a fresh one."""
    import random

    commits = tmp_path / "commits"
    commits.mkdir()
    idx = OplogIndex(tmp_path / "oplog", commits)
    order = list(range(40))
    random.Random(7).shuffle(order)
    for n, w in enumerate(order):
        _record(commits, 2 * w + 1, lo=2 * w)  # window [2w, 2w + 1]
        if n % 3:  # some listings are only seen by the watermark
            idx.census(gaps=False)
            continue
        assert idx.census() == OplogIndex(tmp_path / "oplog", commits).census()
    assert idx.census() == (79, ())


def test_shared_index_under_concurrent_commits(tmp_path):
    """Readers on many threads share one index while a writer adds
    commit records, and an op-log file every tenth step. The record at
    seq 2i opens the gap (2i-1, 2i-1), so every census must answer the
    gaps of exactly its own watermark, and no reader may see the
    watermark or the raw max seq go back."""
    oplog, commits = tmp_path / "oplog", tmp_path / "commits"
    oplog.mkdir()
    commits.mkdir()
    _part(oplog, "part-00000.parquet", ["k"], [0])
    _record(commits, 0)
    idx = OplogIndex(oplog, commits)
    steps, errors, done = 1000, [], threading.Event()

    def writer():
        for i in range(1, steps + 1):
            if i % 10 == 0:
                _part(oplog, f"part-{i:05d}.parquet", [f"k{i}"], [2 * i])
            _record(commits, 2 * i, 2 * i)
        done.set()

    def reader():
        last_w = last_raw = -1
        while not done.is_set() or last_w < 2 * steps:
            w, gaps = idx.census()
            raw = idx.raw_max_seq() if w % 20 == 0 else last_raw
            if gaps != tuple((j, j) for j in range(1, w, 2)) or w < last_w or raw < last_raw:
                errors.append((w, gaps, last_w, raw, last_raw))
                return
            last_w, last_raw = w, raw

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader) for _ in range(2 * os.cpu_count())]
        threads.append(threading.Thread(target=writer))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert idx.census()[0] == 2 * steps and len(idx.files()) == steps // 10 + 1
