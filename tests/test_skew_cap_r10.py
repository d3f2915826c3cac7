"""Round-10 degenerate-bucket cap default (VERDICT r9 item 7).

`max_bucket_size` now defaults to "auto": cap boilerplate LSH buckets at
`_LSH_CAP_AUTO` once the corpus plan estimate passes the scale gate
(`plans.SCALE_GATE_BYTES`), stay cap-free below it (identical plans AND
results to the old None default at fixture scale — max observed bucket
in the testdata is 4). Measured rationale: scripts/skew_cap_experiment.py
(one 8k-member template bucket → 32.0M candidate pairs / 114 s uncapped
vs 1.9k pairs / 21 s capped, seeded recall identical at 0.963)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import tera_spark.operators.dedup as D
import tera_spark.plans as plans


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    # 8 unique docs, one seeded near-dup pair (0,1), and 5 copies of one
    # template (a degenerate 5-member bucket in every band). Parquet-
    # backed like every query fixture: the size gate reads plan stats,
    # and an in-memory LogicalRDD has UNKNOWN stats (treated as huge —
    # the conservative choice at corpus scale), which would engage the
    # cap regardless of actual size.
    words = [f"tok{i}" for i in range(200)]
    base = " ".join(words[:40])
    near = " ".join(words[:39] + ["tokX"])
    rows = [(0, base), (1, near)]
    rows += [(i, " ".join(words[i * 5 : i * 5 + 40])) for i in range(2, 8)]
    rows += [(10 + j, " ".join(words[100:140])) for j in range(5)]
    path = str(tmp_path_factory.mktemp("skewcap") / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    return spark.read.parquet(path)


def test_resolve_passthrough(spark, corpus):
    assert D._resolve_bucket_cap(corpus, None) is None
    assert D._resolve_bucket_cap(corpus, 7) == 7
    # a tiny parquet-backed corpus resolves "auto" to no cap (below the
    # bytes floor); a stats-less in-memory relation engages it
    assert D._resolve_bucket_cap(corpus, "auto") is None
    unknown = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    assert D._resolve_bucket_cap(unknown, "auto") == D._LSH_CAP_AUTO


def test_auto_matches_none_below_floor(spark, corpus):
    # below the floor the auto default must produce the exact pre-r10
    # plan — same analyzed operators, so same results by construction
    df = corpus
    auto = D.minhash_lsh_pairs(df)
    none = D.minhash_lsh_pairs(df, max_bucket_size=None)
    assert auto.semanticHash() == none.semanticHash()


def test_auto_caps_degenerate_bucket_above_floor(spark, corpus, monkeypatch):
    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 0)
    monkeypatch.setattr(D, "_LSH_CAP_AUTO", 4)
    df = corpus
    pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(df).collect()}
    # the 5-member template bucket (> cap 4) is dropped entirely...
    assert not any(a >= 10 and b >= 10 for a, b in pairs)
    # ...while the true near-dup pair survives through its own bands
    assert (0, 1) in pairs
    # and an uncapped run does emit the template pairs (10 choose 2 of 5)
    uncapped = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(df, max_bucket_size=None).collect()
    }
    assert sum(1 for a, b in uncapped if a >= 10 and b >= 10) == 10
    assert pairs == {(a, b) for a, b in uncapped if not (a >= 10 and b >= 10)}


def test_verified_near_duplicates_auto_below_floor(spark, corpus):
    df = corpus
    got = {
        (r.id_a, r.id_b)
        for r in D.verified_near_duplicates(df, threshold=0.5).collect()
    }
    explicit = {
        (r.id_a, r.id_b)
        for r in D.verified_near_duplicates(
            df, threshold=0.5, max_bucket_size=None
        ).collect()
    }
    assert got == explicit and (0, 1) in got
