"""The catalog's block cache of decoded row groups (oplog_index.BlockCache).

Point reads fill it and every Seeker of the catalog shares it; a range
scan only uses its hits. Rows are cached raw, so the visibility masks,
a same-name rewrite and a compaction never serve a stale row; the groups
of an unlinked file leave the cache on the index's next refresh.
"""

from __future__ import annotations

import random
import threading

import pyarrow.parquet as pq
import pytest

import tera_spark.oplog_index as oplog_index
from tera_spark.client import Client
from tera_spark.operators.mutation import MutationBatch
from tera_spark.operators.txn import new_global_transaction

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture()
def client(spark, tmp_path):
    c = Client(spark, str(tmp_path / "cat"))
    c.create_table("t { d <maxversions=1> }")
    return c


def _value(t, key: str) -> bytes | None:
    got = t.get(key)
    return got["d"]["q"][0][1] if got else None


def test_get_then_global_txn_read_is_a_hit(client):
    cat, t = client.catalog, client.open_table("t")
    t.put("r", "d", "q", b"v")
    assert _value(t, "r") == b"v"
    before = cat.block_cache.stats()
    assert before["groups"] >= 1
    assert new_global_transaction(cat).read("t", "r", "d", "q") == b"v"
    after = cat.block_cache.stats()
    assert after["hits"] > before["hits"]
    assert after["misses"] == before["misses"]


def test_cached_bytes_stay_within_the_budget(client, monkeypatch):
    cat, t = client.catalog, client.open_table("t")
    for i in range(6):  # one op-log file of one row group per put
        t.put(f"r{i}", "d", "q", bytes([65 + i]) * 4000)
    assert _value(t, "r0") == b"A" * 4000
    one = cat.block_cache.stats()["bytes"]
    assert one > 4000

    budget = int(2.5 * one)
    monkeypatch.setattr(oplog_index, "_CACHE_BYTES", budget)
    for i in range(6):
        assert _value(t, f"r{i}") == bytes([65 + i]) * 4000
        assert cat.block_cache.stats()["bytes"] <= budget
    stats = cat.block_cache.stats()
    assert stats["groups"] == 2 and stats["evictions"] == 4

    # a group larger than the budget is read but never cached
    monkeypatch.setattr(oplog_index, "_CACHE_BYTES", one - 1)
    fresh = Client(client.catalog.spark, str(cat.root))
    assert _value(fresh.open_table("t"), "r3") == b"D" * 4000
    assert fresh.catalog.block_cache.stats() == {
        "hits": 0, "misses": 1, "evictions": 0, "bytes": 0, "groups": 0,
    }


def test_full_scan_does_not_fill_the_cache(client):
    cat, t = client.catalog, client.open_table("t")
    for i in range(5):
        t.put(f"r{i}", "d", "q", f"v{i}".encode())
    assert _value(t, "r1") == b"v1"
    before = cat.block_cache.stats()
    rows = list(t.scan())
    assert [r.row_key for r in rows] == [f"r{i}" for i in range(5)]
    after = cat.block_cache.stats()
    assert after["misses"] > before["misses"]  # the scan read uncached groups
    assert (after["bytes"], after["groups"]) == (before["bytes"], before["groups"])


def test_no_stale_read_after_compact_inplace(client):
    cat, t = client.catalog, client.open_table("t")
    t.put("r", "d", "q", b"v1")
    t.put("s", "d", "q", b"w1")
    assert (_value(t, "r"), _value(t, "s")) == (b"v1", b"w1")
    cat.compact_inplace("t")
    assert (_value(t, "r"), _value(t, "s")) == (b"v1", b"w1")
    t.put("r", "d", "q", b"v2")
    t.delete_row("s")
    assert (_value(t, "r"), _value(t, "s")) == (b"v2", None)


def test_compaction_drops_dead_files_from_the_cache(client):
    """After a compaction the index's next refresh drops the unlinked
    files' groups: every cached key is a live (path, identity), and
    ``bytes`` is the sum of the cached groups."""
    cat, t = client.catalog, client.open_table("t")
    for i in range(5):
        t.put(f"r{i}", "d", "q", f"v{i}".encode())
    assert [_value(t, f"r{i}") for i in range(5)] == [f"v{i}".encode() for i in range(5)]
    assert cat.block_cache.stats()["groups"] == 5
    cat.compact_inplace("t")
    assert [_value(t, f"r{i}") for i in range(5)] == [f"v{i}".encode() for i in range(5)]
    live = {(str(m.path), m.ident) for m in cat.oplog_index("t").files()}
    cache = cat.block_cache
    assert cache._groups and {k[:2] for k in cache._groups} <= live
    assert cache.stats()["bytes"] == sum(size for _, size in cache._groups.values())


def test_cache_and_route_counters_under_thread_contention(client):
    """Eight threads (more than the cores) put, get and drop cache
    groups and count scan_df routes with a short switch interval: no
    update is lost, and ``bytes`` stays the sum of the cached groups."""
    import sys

    import pyarrow as pa

    cat, cache = client.catalog, oplog_index.BlockCache()
    group = pa.table({"v": [1, 2, 3]})
    errors = []

    def work(w: int) -> None:
        try:
            for i in range(300):
                path = f"/d/part-{w}-{i % 7}"
                cache.put((path, ("id", i % 3), 0, ("v",)), group)
                cache.get((path, ("id", (i + 1) % 3), 0, ("v",)))
                if i % 5 == 0:
                    cache.drop("/d", [(f"part-{w}-{i % 7}", ("id", i % 3))])
                cat.count_scan_df_route("local" if w % 2 else "spark")
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    before = dict(cat.scan_df_routes)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(w,)) for w in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not errors and not any(th.is_alive() for th in threads)
    assert cat.scan_df_routes == {k: v + 1200 for k, v in before.items()}
    assert cache.bytes == sum(size for _, size in cache._groups.values())


def test_no_stale_read_after_optimize(spark, tmp_path):
    """optimize() on a pre-split table rewrites its files under their
    old names: the cached row groups of the old files must not serve."""
    c = Client(spark, str(tmp_path / "cat"))
    c.catalog.create_table("t { d }", delimiters=["m"])
    t = c.open_table("t")
    for ts, v in enumerate((b"v1", b"v2"), start=1):
        t.put("a", "d", "q", v, ts=ts)
        assert _value(t, "a") == v
        c.catalog.optimize("t")
        assert _value(t, "a") == v
    t.put("a", "d", "q", b"v3", ts=3)
    assert _value(t, "a") == b"v3"


def test_rollback_window_masks_a_cached_row(client):
    cat, t = client.catalog, client.open_table("t")
    t.put("r", "d", "q", b"v1")
    t.put("r", "d", "q", b"v2")
    top = cat.visible_max_seq("t")
    assert _value(t, "r") == b"v2"  # both files' groups now cached
    cat._add_rollback("t", top - 1, top)
    assert _value(t, "r") == b"v1"
    cat.compact_inplace("t")  # drops the rolled-back row and clears the window
    assert _value(t, "r") == b"v1"


def test_watermark_change_masks_a_cached_row(client):
    """A table without commit records reads unfiltered; the first record
    sets a watermark that hides a row above it, cached or not."""
    cat = client.catalog
    cat.create_table("legacy { d }")
    batch = MutationBatch().put("x", "d", "q", b"raw", ts=1)
    pq.write_table(batch.to_arrow(base_seq=7), f"{cat.oplog_path('legacy')}/part-legacy.parquet")
    t = client.open_table("legacy")
    assert _value(t, "x") == b"raw"
    assert cat.block_cache.stats()["groups"] == 1
    cat._record_commit("legacy", 3)
    assert _value(t, "x") is None
    assert cat.block_cache.stats()["hits"] >= 1


def test_readers_beside_a_writer_agree_with_a_model(client):
    """Four reader threads (a Table each, one catalog) read while a
    writer puts: every read returns a value no older than the last put
    that returned before the read began and no newer than the last put
    begun before it ended."""
    keys = ["k0", "k1", "k2"]
    writer = client.open_table("t")
    for i, k in enumerate(keys):
        writer.put(k, "d", "q", str(i).encode())
    begun, landed = list(range(3)), list(range(3))  # put index by key
    done, errors = threading.Event(), []

    def write() -> None:
        try:
            for i in range(3, 33):
                begun[i % 3] = i
                writer.put(keys[i % 3], "d", "q", str(i).encode())
                landed[i % 3] = i
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)
        finally:
            done.set()

    def read(seed: int) -> None:
        rng, t = random.Random(seed), client.open_table("t")
        try:
            while not done.is_set():
                j = rng.randrange(3)
                lo = landed[j]
                got = int(_value(t, keys[j]))
                hi = begun[j]
                assert got % 3 == j and lo <= got <= hi, (keys[j], lo, got, hi)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=write)] + [
        threading.Thread(target=read, args=(s,)) for s in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not errors, errors
    assert [_value(writer, k) for k in keys] == [b"30", b"31", b"32"]
    assert client.catalog.block_cache.stats()["hits"] > 0
