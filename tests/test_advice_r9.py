"""Round-9 advice + round-10 optimization regressions.

1. `_brute_sims` must not collect an unbounded query side onto the
   driver before checking `_BRUTE_Q_CAP` (ADVICE r9 item 1): the
   collect is bounded by limit(cap+1), an over-cap query side falls
   back to the expr path, and the per-(app, plan) memo means repeated
   constructions of the same kernel query run no further Spark jobs.
2. `kernel="numpy"` without numpy must raise a clear error instead of
   an AttributeError on a None module (ADVICE r9 item 3).
3. The numpy brute kernel must degrade per-row on null / wrong-dim
   corpus vectors — NULL sim for that row, like the expression fold's
   zip_with padding — instead of np.stack failing the whole task
   (ADVICE r9 item 4).
4. `tables.invalidate` drops memoized relations so a same-application
   overwrite of a table directory re-lists files (ADVICE r9 item 2);
   dead-application entries are evicted on the next load().
5. dsir_importance's shared (doc_id, bucket) fold is size-gated
   (VERDICT r9 item 1): both shapes must produce identical rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import tera_spark.plans as plans
from tera_spark.operators import similarity as S
from tera_spark.operators import textops
from tera_spark.sources import tables


def _vecs(spark, n, dim=4, id0=0):
    rows = [(id0 + i, [float((i * 7 + j * 3) % 11) + 1.0 for j in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_collect_is_bounded_and_falls_back(spark, monkeypatch):
    # query side over the cap: the kernel path must NOT be taken, and
    # the collect that decides this must scan at most cap+1 rows
    monkeypatch.setattr(S, "_BRUTE_Q_CAP", 3)
    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 0)  # force the gate on
    S._Q_ROWS_MEMO.clear()
    v = _vecs(spark, 6).selectExpr("vec_id as v_id", "embedding as v_vec")
    q = _vecs(spark, 5).selectExpr("vec_id as q_id", "embedding as q_vec")
    sims = S._brute_sims(v, q, "auto")
    # over-cap -> expression fold: no Python evaluation node in the plan
    assert "mapinpandas" not in sims._jdf.queryExecution().executedPlan().toString().lower()
    assert sims.count() == 30


def test_brute_query_collect_memoized_per_plan(spark, monkeypatch, tmp_path):
    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 0)
    S._Q_ROWS_MEMO.clear()
    # parquet-backed plans like the real callers: semanticHash
    # canonicalizes expression ids, so re-reading the same file yields
    # the same key (local-relation plans hash by embedded data and are
    # deliberately not deduped)
    p = str(tmp_path / "emb.parquet")
    _vecs(spark, 6).write.parquet(p)
    v = spark.read.parquet(p).selectExpr("vec_id as v_id", "embedding as v_vec")
    q = spark.read.parquet(p).where("vec_id < 2").selectExpr(
        "vec_id as q_id", "embedding as q_vec"
    )
    S._brute_sims(v, q, "auto")
    assert len(S._Q_ROWS_MEMO) == 1
    (key,) = S._Q_ROWS_MEMO
    first = S._Q_ROWS_MEMO[key]
    # second construction of the same query plan reuses the collected
    # rows (the list object itself — no second job, no new entry)
    q2 = spark.read.parquet(p).where("vec_id < 2").selectExpr(
        "vec_id as q_id", "embedding as q_vec"
    )
    S._brute_sims(v, q2, "auto")
    assert len(S._Q_ROWS_MEMO) == 1
    assert S._Q_ROWS_MEMO[key] is first


def test_explicit_numpy_kernel_without_numpy_raises(spark, monkeypatch):
    monkeypatch.setattr(S, "_np", None)
    v = _vecs(spark, 3)
    with pytest.raises(RuntimeError, match="numpy"):
        S.cosine_topk(v, v.limit(1), k=2, kernel="numpy").collect()
    with pytest.raises(RuntimeError, match="numpy"):
        S.ivf_assign(v, v.limit(1).selectExpr("vec_id as centroid_id", "embedding"),
                     kernel="numpy").collect()


def test_numpy_kernel_degrades_per_row_on_bad_vectors(spark, monkeypatch):
    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 0)
    S._Q_ROWS_MEMO.clear()
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, None),                      # null vector
        (2, [1.0, 2.0]),                # wrong dimension
        (3, [4.0, 3.0, 2.0, 1.0]),
    ]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .selectExpr("vec_id as v_id", "embedding as v_vec")
    q = _vecs(spark, 1).selectExpr("vec_id as q_id", "embedding as q_vec")
    got = S._brute_sims(v, q, "auto")
    assert "mapinpandas" in got._jdf.queryExecution().executedPlan().toString().lower()
    sims = {r["v_id"]: r["_sim_raw"] for r in got.collect()}
    assert sims[1] is None and sims[2] is None
    assert sims[0] is not None and sims[3] is not None
    # per-row degradation matches the expression fold exactly
    expr = {r["v_id"]: r["_sim_raw"] for r in S._brute_sims(v, q, "expr").collect()}
    assert sims == expr


def test_load_memo_invalidate_and_dead_app_eviction(spark, tmp_path):
    d = str(tmp_path / "tbl")
    spark.range(3).selectExpr("id as c_custkey").write.parquet(f"{d}/customer.parquet")
    assert tables.load(spark, d, "customer").count() == 3
    # overwrite the directory in the same application: without
    # invalidate the memoized InMemoryFileIndex reads deleted files
    spark.range(5).selectExpr("id as c_custkey").write.mode("overwrite").parquet(
        f"{d}/customer.parquet"
    )
    tables.invalidate(d, "customer")
    assert tables.load(spark, d, "customer").count() == 5
    # dead-application keys are evicted on the next load()
    tables._LOAD_MEMO[("dead-app", d, "customer")] = tables._LOAD_MEMO[
        (spark.sparkContext.applicationId, d, "customer")
    ]
    tables.load(spark, d, "customer")
    assert ("dead-app", d, "customer") not in tables._LOAD_MEMO
    tables.invalidate(d)
    assert not any(k[1] == d for k in tables._LOAD_MEMO)


def test_dsir_fold_gate_shapes_identical(spark, monkeypatch):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "el zorro marron salta sobre el perro", "es"),
            (3, "the dog sleeps and the fox runs", "en"),
            (4, "lorem ipsum dolor sit amet the", "und"),
            (5, "", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    tgt = docs.filter(F.col("lang") == "en")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 1 << 60)  # two-pass
    two_pass = rows(textops.dsir_importance(docs, tgt))
    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 0)  # shared fold
    shared = rows(textops.dsir_importance(docs, tgt))
    assert two_pass == shared
    assert len(shared) == 5


def test_dsir_target_pred_identical_both_gate_sides(spark, monkeypatch):
    # target_pred promises target == candidates.filter(pred); all four
    # (gate side × target form) combinations must agree, including the
    # NULL-pred row (counts as non-target, exactly like the filter)
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "el zorro marron salta sobre el perro", "es"),
            (3, "the dog sleeps and the fox runs", "en"),
            (4, "lorem ipsum dolor sit amet the", None),
            (5, "", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    pred = F.col("lang") == "en"

    def rows(df):
        return sorted(map(tuple, df.collect()))

    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 1 << 60)  # two-pass
    explicit = rows(textops.dsir_importance(docs, docs.filter(pred)))
    via_pred = rows(textops.dsir_importance(docs, target_pred=pred))
    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 0)  # shared fold
    explicit_f = rows(textops.dsir_importance(docs, docs.filter(pred)))
    via_pred_f = rows(textops.dsir_importance(docs, target_pred=pred))
    assert explicit == via_pred == explicit_f == via_pred_f
    assert len(explicit) == 5
    with pytest.raises(ValueError):
        textops.dsir_importance(docs)
    with pytest.raises(ValueError):
        textops.dsir_importance(docs, docs.filter(pred), target_pred=pred)
