"""Single-row transactions (conflict detection) and hash-distributed
row keys (round-trip + distribution)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tera_spark.functions.keys import (
    hash_prefix_key,
    strip_hash_prefix,
    with_hashed_row_key,
    with_plain_row_key,
)
from tera_spark.operators.mutation import MutationBatch
from tera_spark.operators.txn import RowTxnConflict

NOW = 2_000_000_000_000_000


def _row_txn_table(spark, tmp_path):
    """A catalog table whose row r1 holds v1 at ts 10."""
    from tera_spark.client import Client

    c = Client(spark, str(tmp_path / "txn_cat"))
    c.create_table("t { cf0 <maxversions=1> }")
    t = c.open_table("t")
    t.put("r1", "cf0", "q", "v1", ts=10)
    return t


def test_row_txn_commit_applies(spark, tmp_path):
    t = _row_txn_table(spark, tmp_path)
    txn = t.start_row_transaction("r1")
    assert txn.read("cf0", "q") == b"v1"
    txn.put("cf0", "q", "v2", ts=20)
    t.commit_row_transaction(txn)
    assert t.get("r1") == {"cf0": {"q": [(20, b"v2")]}}


def test_row_txn_conflict_detected(spark, tmp_path):
    t = _row_txn_table(spark, tmp_path)
    txn = t.start_row_transaction("r1")
    txn.put("cf0", "q", "mine", ts=20)
    # concurrent writer lands on the same row before commit
    t.put("r1", "cf0", "q", "theirs", ts=15)
    with pytest.raises(RowTxnConflict):
        t.commit_row_transaction(txn)
    assert t.get("r1") == {"cf0": {"q": [(15, b"theirs")]}}


def test_row_txn_other_rows_do_not_conflict(spark, tmp_path):
    t = _row_txn_table(spark, tmp_path)
    txn = t.start_row_transaction("r1")
    txn.put("cf0", "q", "mine", ts=20)
    t.put("r2", "cf0", "q", "x", ts=15)
    t.commit_row_transaction(txn)
    assert t.get("r1") == {"cf0": {"q": [(20, b"mine")]}}
    assert t.get("r2") == {"cf0": {"q": [(15, b"x")]}}


def test_hash_key_round_trip(spark):
    df = spark.createDataFrame([(f"user{i:04d}",) for i in range(200)], "row_key string")
    hashed = with_hashed_row_key(df)
    back = with_plain_row_key(hashed)
    assert sorted(r.row_key for r in back.collect()) == sorted(
        r.row_key for r in df.collect()
    )
    one = hashed.limit(1).collect()[0].row_key
    assert len(one) == 16 + len("user0000")


def test_hash_key_spreads_monotonic_keys(spark):
    # sequential keys land in one range; hashed keys spread across the
    # keyspace — check the first hex nibble covers many buckets
    df = spark.createDataFrame([(f"2026-08-13-{i:06d}",) for i in range(512)], "k string")
    nibbles = (
        df.select(F.substring(hash_prefix_key(F.col("k")), 1, 1).alias("n"))
        .distinct()
        .count()
    )
    assert nibbles >= 12  # of 16 possible


def test_hash_key_deterministic(spark):
    df = spark.createDataFrame([("abc",)], "k string")
    a = df.select(hash_prefix_key(F.col("k")).alias("h")).collect()[0].h
    b = df.select(hash_prefix_key(F.col("k")).alias("h")).collect()[0].h
    assert a == b and a.endswith("abc")


def test_strip_is_inverse_expression(spark):
    df = spark.createDataFrame([("k1",), ("a much longer key value",)], "k string")
    out = df.select(
        strip_hash_prefix(hash_prefix_key(F.col("k"))).alias("k2"), "k"
    ).collect()
    for r in out:
        assert r.k2 == r.k


def test_salted_agg_matches_direct(spark):
    from pyspark.sql import functions as F

    from tera_spark.functions.keys import salted_agg

    # one hot key holding ~90% of rows, many distinct values
    df = spark.range(20000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") % 1777).alias("v"),
    )
    got = salted_agg(
        df,
        ["k"],
        {
            "n_distinct": ("count_distinct", "v"),
            "total": ("sum", "v"),
            "n": ("count", "v"),
            "lo": ("min", "v"),
            "hi": ("max", "v"),
        },
        salt_buckets=8,
    )
    want = df.groupBy("k").agg(
        F.countDistinct("v").alias("n_distinct"),
        F.sum("v").alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# --- global (cross-row / cross-table) transactions ---------------------


def _gtxn_catalog(spark, tmp_path):
    from tera_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "gtxn_cat"))
    for t in ("acct_a", "acct_b"):
        cat.create_table(f"{t} {{ cf0 <maxversions=3> }}")
        cat.append(
            t,
            MutationBatch(base_seq=1).put("alice", "cf0", "bal", "100", ts=10).to_df(spark),
        )
    return cat


def test_global_txn_cross_table_transfer(spark, tmp_path):
    from tera_spark.operators.txn import new_global_transaction

    cat = _gtxn_catalog(spark, tmp_path)
    txn = new_global_transaction(cat, now_us=NOW)
    a = int(txn.read("acct_a", "alice", "cf0", "bal"))
    b = int(txn.read("acct_b", "alice", "cf0", "bal"))
    txn.put("acct_a", "alice", "cf0", "bal", str(a - 30), ts=20)
    txn.put("acct_b", "alice", "cf0", "bal", str(b + 30), ts=20)
    applied = txn.commit()
    assert applied == {"acct_a": 1, "acct_b": 1}

    va = cat.view("acct_a", now_us=NOW).filter(F.col("qualifier") == "bal").collect()
    vb = cat.view("acct_b", now_us=NOW).filter(F.col("qualifier") == "bal").collect()
    newest_a = max(va, key=lambda r: r.ts)
    newest_b = max(vb, key=lambda r: r.ts)
    assert bytes(newest_a.value) == b"70" and bytes(newest_b.value) == b"130"


def test_global_txn_write_write_conflict(spark, tmp_path):
    from tera_spark.operators.txn import GlobalTxnConflict, new_global_transaction

    cat = _gtxn_catalog(spark, tmp_path)
    t1 = new_global_transaction(cat, now_us=NOW)
    t2 = new_global_transaction(cat, now_us=NOW)
    t1.put("acct_a", "alice", "cf0", "bal", "1", ts=20)
    t2.put("acct_a", "alice", "cf0", "bal", "2", ts=21)
    t1.commit()
    import pytest as _pytest

    with _pytest.raises(GlobalTxnConflict):
        t2.commit()


def test_global_txn_snapshot_reads_and_disjoint_rows(spark, tmp_path):
    from tera_spark.operators.txn import new_global_transaction

    cat = _gtxn_catalog(spark, tmp_path)
    txn = new_global_transaction(cat, now_us=NOW)
    assert txn.read("acct_a", "alice", "cf0", "bal") == b"100"  # pins snapshot
    # concurrent writer lands on a DIFFERENT row and on alice
    cat.append(
        "acct_a",
        MutationBatch(base_seq=100)
        .put("bob", "cf0", "bal", "5", ts=30)
        .put("alice", "cf0", "bal", "999", ts=30)
        .to_df(spark),
    )
    # snapshot read: still the pre-append value
    assert txn.read("acct_a", "alice", "cf0", "bal") == b"100"
    # txn writes only bob's row in acct_b -> disjoint from the append, commits
    txn.put("acct_b", "bob", "cf0", "bal", "7", ts=40)
    assert txn.commit() == {"acct_b": 1}


def test_global_txn_notify_marks_dirty(spark, tmp_path):
    from tera_spark.operators.txn import new_global_transaction
    from tera_spark.streaming.observer import NOTIFY_CF

    cat = _gtxn_catalog(spark, tmp_path)
    txn = new_global_transaction(cat, now_us=NOW)
    txn.put("acct_a", "alice", "cf0", "bal", "55", ts=50).notify(
        "acct_a", "alice", "cf0", "bal", ts=50
    )
    txn.commit()
    marks = cat.read_oplog("acct_a").filter(F.col("cf") == NOTIFY_CF).collect()
    assert len(marks) == 1 and marks[0].qualifier == "cf0+bal"


def test_py_xxhash64_matches_spark(spark):
    """The driver-side XXH64 twin must be bit-equal to F.xxhash64
    (seed 42, UTF-8 bytes) — the hash-table SDK translates keys on the
    driver with it, so any divergence would strand reads from writes.
    Covers every length class of the algorithm (empty, <4, <8, <32,
    >=32, multi-block) and non-ASCII."""
    from pyspark.sql import functions as F

    from tera_spark.functions.keys import py_hash_prefix_key, py_xxhash64

    keys = ["", "a", "ab", "abc", "abcd", "hello", "0123456", "01234567",
            "x" * 31, "y" * 32, "z" * 33, "w" * 100, "row-é中文-key",
            *(f"user{i:06d}" for i in range(50))]
    df = spark.createDataFrame([(k,) for k in keys], "k string").select(
        "k",
        F.xxhash64("k").alias("h"),
        F.concat(F.lpad(F.lower(F.hex(F.xxhash64("k"))), 16, "0"), F.col("k")).alias("pk"),
    )
    for r in df.collect():
        assert py_xxhash64(r.k.encode()) == r.h, r.k
        assert py_hash_prefix_key(r.k) == r.pk, r.k


def test_py_xxhash64_matches_spark_hypothesis(spark):
    """Property form of the XXH64 pin: random unicode keys (all length
    classes, surrogate-free) hash identically on the driver and in the
    JVM expression. One batched Spark job for the whole example set."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from tera_spark.functions.keys import py_xxhash64

    examples: list[str] = []

    @settings(max_examples=120, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80))
    def collect(s):
        examples.append(s)

    collect()
    uniq = sorted(set(examples))
    df = spark.createDataFrame([(k,) for k in uniq], "k string").select(
        "k", F.xxhash64("k").alias("h")
    )
    for r in df.collect():
        assert py_xxhash64(r.k.encode("utf-8")) == r.h, repr(r.k)


def test_generate_hash_delimiters_reference_contract():
    """Transliterates hash_table_test.cc GenerateHashDelimiters
    (src/sdk/test/hash_table_test.cc): n=2 -> the single midpoint
    7fffffffffffffff; n<=1 (incl. negative) -> empty; n=32 -> 31
    delimiters, evenly spaced, with 2^64 / spacing == 32."""
    from tera_spark.functions.keys import hash_delimiters

    assert hash_delimiters(2) == ["7fffffffffffffff"]
    assert hash_delimiters(1) == []
    assert hash_delimiters(-2029) == []
    d = hash_delimiters(32)
    assert len(d) == 31
    vals = [int(x, 16) for x in d]
    assert vals == sorted(vals)
    gaps = {b - a for a, b in zip(vals, vals[1:])}
    assert len(gaps) == 1  # even spacing
    assert 0xFFFFFFFFFFFFFFFF // gaps.pop() == 32
    # 16-hex, zero-padded, lowercase -- comparable against hash prefixes
    assert all(len(x) == 16 and x == x.lower() for x in d)


def test_global_txn_cas_commit_disjoint_and_locked(spark, tmp_path):
    """commit(cas=True): the Percolator prewrite-validate-commit shape.
    Two transactions on DISJOINT rows both commit at once; a transaction whose
    write set is covered by a concurrent txn's live manifest aborts
    with GlobalTxnConflict; validation still catches a committed
    write-write conflict under the locks."""
    import json
    import time as _time
    from pathlib import Path

    import pytest

    from tera_spark.catalog import Catalog
    from tera_spark.operators.txn import GlobalTransaction, GlobalTxnConflict

    root = str(tmp_path / "cat")
    cat = Catalog(spark, root, writer_id="w-main")
    cat.create_table("acct { bal }")
    from tera_spark.operators.mutation import MutationBatch

    cat.append_cas("acct", MutationBatch().put("alice", "bal", "v", b"100", ts=1))

    t1 = GlobalTransaction(cat)
    t1.put("acct", "bob", "bal", "v", b"50", ts=2)
    t2 = GlobalTransaction(cat)
    t2.put("acct", "carol", "bal", "v", b"70", ts=2)
    assert t1.commit(cas=True) == {"acct": 1}
    assert t2.commit(cas=True) == {"acct": 1}  # disjoint: no wait, no retry

    # a live concurrent manifest covering our row -> immediate abort
    (Path(root) / "acct" / "casmeta" / "resv-other.json").write_text(
        json.dumps({"holder": "other", "lo": 900, "hi": 900,
                    "rows": ["alice"], "expires": _time.time() + 60})
    )
    t3 = GlobalTransaction(cat)
    t3.put("acct", "alice", "bal", "v", b"0", ts=3)
    with pytest.raises(GlobalTxnConflict):
        t3.commit(cas=True)
    (Path(root) / "acct" / "casmeta" / "resv-other.json").unlink()
    assert not list((Path(root) / "acct" / "casmeta").glob("resv-w-main*"))

    # write-write conflict vs COMMITTED state is still validated
    t4 = GlobalTransaction(cat)
    assert t4.read("acct", "bob", "bal", "v") == b"50"  # pins the snapshot
    cat.append_cas("acct", MutationBatch().put("bob", "bal", "v", b"60", ts=3))
    t4.put("acct", "bob", "bal", "v", b"55", ts=4)
    with pytest.raises(GlobalTxnConflict):
        t4.commit(cas=True)
    # ... and its manifests were aborted, so a fresh txn can proceed
    t5 = GlobalTransaction(cat)
    t5.put("acct", "bob", "bal", "v", b"61", ts=5)
    assert t5.commit(cas=True) == {"acct": 1}

    vals = {
        r.row_key: bytes(r.value)
        for r in cat.view("acct").collect()
    }
    assert vals == {"alice": b"100", "bob": b"61", "carol": b"70"}
