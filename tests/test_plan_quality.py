"""Plan-hygiene audit over the whole query registry.

Every `queries()` entry is planned (not executed) at sf0.001 and its
physical plan checked against the rules the 100 TB design depends on:

* no CartesianProduct — unbounded pair blow-up. (1-row scalar
  subqueries cross-joined with broadcast plan as
  BroadcastNestedLoopJoin, which is fine and stays allowed.)
* no BatchEvalPython / PythonUDF in any plan — row-at-a-time Python
  in a hot path; Arrow-batched MapInPandas is the only Python allowed
  (multimodal decode).
* column pruning reaches the parquet scans of wide tables: a query
  that touches lineitem must not read all 11 columns unless it uses
  them.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()


def _plan(spark, name: str) -> str:
    from tera_spark.plans import plan_str

    df = QUERIES[name](spark, SF_DIR)
    return plan_str(df, "simple")


def _formatted(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _scan_block(formatted: str, table: str) -> str:
    """The formatted-explain node block for the scan of ``table``."""
    blocks = re.split(r"\n\n", formatted)
    for b in blocks:
        if "Scan parquet" in b and f"{table}.parquet" in b:
            return b
    raise AssertionError(f"no parquet scan of {table} found")


# measured heavyweights (>= ~8 s each), deselected by default
_SLOW_PLAN_CHECKS = {
    "ann_filtered_selective",
    "ann_hyperplane_pairs",
    "ann_kmeans_clusters",
    "dedup_semantic_windowed",
    "dedup_simhash",
    "graph_pagerank_neardup",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_PLAN_CHECKS else n
        for n in sorted(QUERIES)
    ],
)
def test_no_cartesian_no_python_rows(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BatchEvalPython" not in plan, f"{name} plans a row-at-a-time Python UDF"


def test_lineitem_scans_prune_columns(spark):
    """Spot-check pushdown hygiene: q6 needs 4 lineitem columns and its
    scan must request exactly those; q1 needs 7."""
    expects = {"q6_forecast_revenue": 4, "q1_pricing_summary": 7}
    for name, ncols in expects.items():
        block = _scan_block(_formatted(spark, name), "lineitem")
        m = re.search(r"ReadSchema: struct<([^>]*)>", block)
        assert m, f"{name}: lineitem scan has no ReadSchema"
        got = len([c for c in m.group(1).split(",") if c])
        assert got == ncols, f"{name}: lineitem scan reads {got} cols, want {ncols}"


def test_lineitem_filter_pushdown(spark):
    """Date-range predicates must reach the parquet reader."""
    block = _scan_block(_formatted(spark, "q6_forecast_revenue"), "lineitem")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", block)
    assert m and "l_shipdate" in m.group(1), "q6: shipdate filter not pushed to scan"


def test_weighted_interleave_no_single_partition_exchange(spark):
    """The interleave scale claim: global_rank is computed from range
    partitions + size offsets, never a row_number over one partition —
    the plan must contain no SinglePartition exchange."""
    plan = _plan(spark, "pipeline_weighted_interleave")
    assert "SinglePartition" not in plan, "interleave funnels rows through one task"


def test_pq_encode_is_map_only(spark):
    """The PQ scale claim: encoding is map-only in BOTH kernels — the
    default Arrow-numpy kernel plans exactly one declared MapInPandas
    (no exchange), and the expression fallback inlines the codebook as
    a literal pure projection (zero Python)."""
    from pyspark.sql import functions as F

    from tera_spark.operators.similarity import pq_encode
    from tera_spark.plans import explain_features

    v = spark.range(1000).repartition(32).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)), lambda i: (F.col("id") % 7 + i).cast("float")).alias(
            "embedding"
        ),
    )
    cb = [[[0.0] * 4, [5.0] * 4], [[0.0] * 4, [9.0] * 4]]  # m=2, k=2, d_sub=4
    feats = explain_features(pq_encode(v, cb))
    assert feats["exchanges"] <= 1  # the repartition itself at most
    assert feats["python"] == 1  # the declared Arrow kernel, nothing else
    expr = explain_features(pq_encode(v, cb, kernel="expr"))
    assert expr["exchanges"] <= 1
    assert expr["python"] == 0
    # keep= passthrough must stay a projection too (it exists so the
    # index build never joins codes back to their source)
    v2 = v.withColumn("cluster", (F.col("vec_id") % 4).cast("int"))
    feats2 = explain_features(pq_encode(v2, cb, keep=("cluster",)))
    assert feats2["exchanges"] <= 1
    assert "cluster" in pq_encode(v2, cb, keep=("cluster",)).columns


def test_ivf_assign_is_map_only(spark):
    """The IVF scale claim: nearest-centroid assignment is map-only in
    BOTH kernels — no crossJoin row blow-up, no groupBy(id) exchange
    shuffling the corpus (which train_kmeans would otherwise pay once
    per Lloyd round)."""
    from pyspark.sql import functions as F

    from tera_spark.operators.similarity import ivf_assign
    from tera_spark.plans import explain_features

    v = spark.range(1000).repartition(32).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)), lambda i: (F.col("id") % 7 + i).cast("float")
        ).alias("embedding"),
    )
    cents = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [5.0] * 8)], "centroid_id long, embedding array<double>"
    )
    feats = explain_features(ivf_assign(v, cents))
    assert feats["exchanges"] <= 1  # the repartition itself at most
    assert feats["python"] == 1  # the declared Arrow kernel
    expr = explain_features(ivf_assign(v, cents, kernel="expr"))
    assert expr["exchanges"] <= 1
    assert expr["python"] == 0


def test_ivf_near_pairs_caches_assignment(spark):
    """The self-join in ivf_near_pairs must read the persisted
    assignment on BOTH sides (InMemoryTableScan), so the Arrow
    assignment kernel runs once over the corpus — not recomputed per
    join side, which would double the dominant cost at volume."""
    from pyspark.sql import functions as F

    from tera_spark.operators.similarity import ivf_near_pairs
    from tera_spark.plans import plan_str

    v = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)), lambda i: (F.col("id") % 5 + i).cast("float")
        ).alias("embedding"),
    )
    cents = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [5.0] * 8)], "centroid_id long, embedding array<double>"
    )
    pairs = ivf_near_pairs(v, cents, threshold=0.0)
    plan = plan_str(pairs, "simple")
    assert plan.count("InMemoryTableScan") >= 2, "self-join sides must reuse the cache"
    # after folding each cached subtree to one occurrence, the kernel
    # appears exactly once: it is only the cache-build plan, never a
    # per-side recomputation
    from tera_spark.plans import dedupe_cached_subtrees

    assert dedupe_cached_subtrees(plan).count("MapInPandas") == 1


def test_ann_kernels_bit_equal(spark):
    """The numpy kernels must reproduce the expression fold exactly —
    same d² accumulation order, same argmin tie rule — so the two
    paths are interchangeable under the oracle parity gate."""
    from pyspark.sql import functions as F

    from tera_spark.operators.similarity import ivf_assign, pq_encode

    v = spark.range(500).repartition(8).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: ((F.pmod(F.xxhash64(F.col("id"), j), F.lit(2001)) - F.lit(1000.0)) / 1000.0).cast(
                "float"
            ),
        ).alias("embedding"),
    )
    cb = [
        [[((j * 31 + c * 7 + l) % 17 - 8) / 8.0 for l in range(4)] for c in range(3)]
        for j in range(2)
    ]
    a = {r["id"]: list(r["codes"]) for r in pq_encode(v, cb).collect()}
    b = {r["id"]: list(r["codes"]) for r in pq_encode(v, cb, kernel="expr").collect()}
    assert a == b
    cents = spark.createDataFrame(
        [(i, [((i * 13 + l) % 21 - 10) / 10.0 for l in range(8)]) for i in range(5)],
        "centroid_id long, embedding array<double>",
    )
    ka = {r["id"]: r["cluster"] for r in ivf_assign(v, cents).collect()}
    kb = {r["id"]: r["cluster"] for r in ivf_assign(v, cents, kernel="expr").collect()}
    assert ka == kb


def test_phash_pairs_first_collision_no_distinct(spark):
    """The image near-dup scale claim: multi-band collisions are
    deduped by the first-shared-band filter read off the hash XOR —
    map-side on the join output — so the plan has no pair-volume
    aggregate (the old `.distinct()`) and only the two band-key
    exchanges feeding the self-join."""
    from pyspark.sql import functions as F

    from tera_spark.operators.multimodal import phash_duplicates
    from tera_spark.plans import explain_features, plan_str

    media = spark.range(64).select(
        F.col("id").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.col("id").cast("string").cast("binary").alias("payload"),
        F.lit(8).alias("width"),
        F.lit(8).alias("height"),
    )
    pairs = phash_duplicates(media, max_hamming=4, fake_decode=True)
    plan = plan_str(pairs)
    assert "HashAggregate" not in plan, "pair-level distinct is back"
    assert explain_features(pairs)["exchanges"] <= 2


def test_scale_gate_fails_toward_scale_safe_branch(spark, tmp_path, monkeypatch):
    """plans.scale_gate: small estimates take the small branch, the
    floor is one constant, and an estimate that raises picks the
    scale-safe branch (True) rather than the small one."""
    import tera_spark.plans as plans

    p = str(tmp_path / "small.parquet")
    spark.range(10).write.parquet(p)
    small = spark.read.parquet(p)
    assert plans.scale_gate(small) is False
    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 0)
    assert plans.scale_gate(small) is True

    class NoStats:
        @property
        def _jdf(self):
            raise RuntimeError("py4j hiccup")

    monkeypatch.setattr(plans, "SCALE_GATE_BYTES", 1 << 60)
    assert plans.scale_gate(NoStats()) is True
