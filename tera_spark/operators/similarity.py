"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; IVF (inverted
file) is the scale path: assign vectors to their nearest centroid once
(map-only against a broadcast centroid table), then restrict search /
pair generation to within-cluster candidates — at 100 TB that turns an
O(N²) pair scan into O(N²/k) with a single shuffle on cluster id.

All arithmetic is double-precision left-fold in index order so results
are bit-identical with the DuckDB oracle's list_reduce.

The two arithmetic-dense full-corpus kernels — PQ encode and IVF
assignment — run by default as Arrow-batched numpy kernels inside
`mapInPandas`: Spark's higher-order array lambdas (zip_with /
aggregate / transform) are evaluated interpretively, outside
whole-stage codegen, so at ~2k array ops per row the vectorized
kernel measures 21× (encode, m=16/k=32) and 11× (assign, k=64×d=64)
faster at identical output — the accumulation order (sequential over
vector components) and argmin tie rule (first occurrence = lowest
code) reproduce the expression fold bit-for-bit, which the DuckDB
oracle parity gate re-proves end-to-end. The literal-unrolled
expression forms remain as the `kernel="expr"` / no-numpy fallback.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tera_spark.plans import scale_gate
from tera_spark.sources.tables import ensure_parallelism

try:
    import numpy as _np
except ImportError:  # pragma: no cover - numpy is baked into the env
    _np = None


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "auto",
) -> DataFrame:
    """Brute-force exact top-k neighbours for each query vector.
    The query side broadcasts (it is small by construction); ranking
    uses (rounded sim DESC, id) so ties are deterministic.

    ``kernel="auto"`` computes the query×corpus similarity matrix in
    the Arrow-batched numpy kernel (`_brute_sims_np`) — the same
    sequential-component float64 fold as the expression form, so sims
    are bit-identical (oracle parity re-proves it); "expr" forces the
    crossJoin of interpreted higher-order-function folds."""
    from pyspark.sql import Window as W

    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    v = ensure_parallelism(vectors).select(
        F.col(id_col).alias("v_id"), F.col(vec_col).alias("v_vec")
    )
    sims = _brute_sims(v, q, kernel).filter(F.col("v_id") != F.col("q_id")).select(
        "q_id", "v_id", F.round(F.col("_sim_raw"), 6).alias("sim")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), "v_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "v_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


# Above this many query rows the driver-side collect in the numpy
# brute-force kernel stops being "small by construction" — fall back
# to the broadcast crossJoin expression form (same results).
_BRUTE_Q_CAP = 1024

# Memoized bounded collect of the numpy kernel's query side, keyed on
# (applicationId, semantic plan hash): the kernel needs the query rows
# driver-side to close over (the same ≤_BRUTE_Q_CAP rows a broadcast
# would ship), but collecting on every DataFrame *construction* ran a
# Spark job per construction — four per benched query (warm + 3 timed)
# and one per .explain(). One bounded collect per distinct query plan
# per application; dies with the process (nothing keyed on input
# paths survives a run). None = the query side exceeded _BRUTE_Q_CAP.
_Q_ROWS_MEMO: dict[tuple[str, int], list | None] = {}


def _q_rows_bounded(q: DataFrame) -> list | None:
    try:
        key = (q.sparkSession.sparkContext.applicationId, q.semanticHash())
    except Exception:  # pragma: no cover - py4j hiccup: skip the memo
        key = None
    if key is not None:
        for k in [k for k in _Q_ROWS_MEMO if k[0] != key[0]]:
            del _Q_ROWS_MEMO[k]  # dead-application entries
        if key in _Q_ROWS_MEMO:
            return _Q_ROWS_MEMO[key]
    # bounded: an oversized query side stops collecting at cap+1 rows
    # instead of pulling everything onto the driver and discarding it
    rows = q.limit(_BRUTE_Q_CAP + 1).collect()
    rows = rows if 0 < len(rows) <= _BRUTE_Q_CAP else None
    if key is not None:
        _Q_ROWS_MEMO[key] = rows
    return rows


def _brute_sims(v: DataFrame, q: DataFrame, kernel: str) -> DataFrame:
    """(q_id, v_id, _sim_raw) for every query×vector pair — unrounded
    cosine, self-pairs included (callers filter/round). Kernel choice
    per module docstring: the numpy path vectorizes the O(Q·N·d) fold;
    the expr path is the zero-Python fallback. ``auto`` picks by the
    corpus-side size estimate (`plans.scale_gate`): below the floor
    the fixed JVM↔Python boundary cost (Arrow transpose + worker
    round-trip + the query-side collect job) outweighs the
    vectorization win (measured: expr 0.32 s vs numpy 0.46 s on the
    0.8 MB sf0.1 embeddings; numpy 2.4× faster at 200k×64 vectors with
    Q=10 — see OPTIMIZATION_r09.md).

    Constructing the kernel form runs one bounded Spark job (the
    memoized query-side collect above) — the one construction-time
    action in the module, paid once per distinct query plan per
    application."""
    if kernel == "numpy" and _np is None:
        raise RuntimeError('numpy is required for kernel="numpy" (pip install numpy)')
    use_np = kernel == "numpy" or (
        kernel == "auto" and _np is not None and scale_gate(v)
    )
    if use_np:
        rows = _q_rows_bounded(q)
        if rows is not None:
            return _brute_sims_np(v, rows, q.schema["q_id"].dataType)
    # norms are per-vector, not per-pair: compute each side's norm in a
    # projection BELOW the crossJoin (once per corpus row / once per
    # broadcast query row) instead of re-folding both inside every
    # pair's cosine — 3 interpreted array folds per pair become 1.
    # Bit-identical: the same _norm expression over the same values,
    # and sim keeps the exact dot/(q_norm · v_norm) operand order.
    vn = v.withColumn("_vn", _norm(F.col("v_vec")))
    qn = q.withColumn("_qn", _norm(F.col("q_vec")))
    return vn.crossJoin(F.broadcast(qn)).select(
        "q_id",
        "v_id",
        (_dot(F.col("q_vec"), F.col("v_vec")) / (F.col("_qn") * F.col("_vn"))).alias(
            "_sim_raw"
        ),
    )


def _brute_sims_np(v: DataFrame, q_rows: list, q_id_type) -> DataFrame:
    """Arrow-batched query×corpus cosine kernel. Dot products and
    norms accumulate sequentially over vector components in float64 —
    the exact fold order of `_dot`'s aggregate() and the DuckDB
    oracle's list_reduce — then sim = dot / (||v|| · ||q||) with the
    same multiply/divide shape, so every sim is bit-identical to the
    expression form."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    qs = sorted((r["q_id"], [float(x) for x in r["q_vec"]]) for r in q_rows)
    q_ids = _np.asarray([i for i, _ in qs])
    Q = _np.asarray([qv for _, qv in qs], dtype=_np.float64)  # m × dim
    m, dim = Q.shape
    qn_acc = _np.zeros(m)
    for l in range(dim):
        qn_acc += Q[:, l] * Q[:, l]
    qn = _np.sqrt(qn_acc)

    out_schema = StructType(
        [
            StructField("q_id", q_id_type),
            StructField("v_id", v.schema["v_id"].dataType),
            StructField("_sim_raw", DoubleType()),
        ]
    )

    def op(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # null / wrong-dim corpus vectors degrade per-row exactly
            # like the expression fold (zip_with pads with NULLs →
            # NULL sim) instead of np.stack failing the whole task
            ok = (
                pdf["v_vec"].map(lambda a: a is not None and len(a) == dim).to_numpy(dtype=bool)
            )
            good = pdf[ok]
            if len(good):
                X = _np.stack(good["v_vec"].to_numpy()).astype(_np.float64)  # B × dim
                dot = _np.zeros((len(good), m))
                vn_acc = _np.zeros(len(good))
                for l in range(dim):
                    dot += X[:, l : l + 1] * Q[None, :, l]
                    vn_acc += X[:, l] * X[:, l]
                sim = dot / (_np.sqrt(vn_acc)[:, None] * qn[None, :])
                yield pd.DataFrame(
                    {
                        "q_id": _np.tile(q_ids, len(good)),
                        "v_id": _np.repeat(good["v_id"].to_numpy(), m),
                        "_sim_raw": sim.ravel(),
                    }
                )
            bad = pdf[~ok]
            if len(bad):
                yield pd.DataFrame(
                    {
                        "q_id": _np.tile(q_ids, len(bad)),
                        "v_id": _np.repeat(bad["v_id"].to_numpy(), m),
                        "_sim_raw": pd.array([None] * (len(bad) * m), dtype="Float64"),
                    }
                )

    return v.mapInPandas(op, out_schema)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "centroid_id",
    kernel: str = "auto",
) -> DataFrame:
    """Assign each vector to its nearest centroid (L2) — a map-only
    argmin, no crossJoin row blow-up and no groupBy(id) exchange
    hauling every vector through a shuffle (the pre-round-4 form
    shuffled the full corpus once per call, and train_kmeans calls
    this every Lloyd round). Exact-d2 ties break toward the lower
    centroid id — bit-equal to the min_by(struct(d2, cid)) argmin the
    oracles replay. Assumes unique ids (every caller's contract; the
    old groupBy silently merged duplicates).

    ``kernel``: "auto" runs the Arrow-batched numpy kernel (11×
    measured vs the interpreted higher-order-function expressions at
    k=64×dim=64 — see module docstring); "expr" forces the
    literal-unrolled Catalyst projection (zero Python in the plan).
    Above ``_LITERAL_K_CAP`` centroids the unrolled expression would
    blow past codegen limits, so the no-numpy path falls back to the
    broadcast-join + groupBy(id) form — one corpus shuffle, but plan
    size stays flat at any k (a 1B-vector IVF wants ~2^16 lists)."""
    cid_type = centroids.schema[cid_col].dataType
    rows = centroids.select(F.col(cid_col).alias("cid"), F.col(vec_col).alias("c_vec")).collect()
    cents = sorted((r["cid"], [float(x) for x in r["c_vec"]]) for r in rows)
    if kernel == "numpy" and _np is None:
        raise RuntimeError('numpy is required for kernel="numpy" (pip install numpy)')
    use_np = kernel == "numpy" or (kernel == "auto" and _np is not None)
    if use_np:
        return _ivf_assign_np(vectors, cents, id_col=id_col, vec_col=vec_col, cid_type=cid_type)
    if len(rows) > _LITERAL_K_CAP:
        return _ivf_assign_join(vectors, centroids, id_col=id_col, vec_col=vec_col, cid_col=cid_col)
    v = ensure_parallelism(vectors).select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    vec = F.transform(F.col("vec"), lambda x: x.cast("double"))

    def d2(cvec):
        diff = F.zip_with(vec, F.array(*[F.lit(x) for x in cvec]), lambda x, y: x - y)
        return F.aggregate(
            F.zip_with(diff, diff, lambda x, y: x * y), F.lit(0.0), lambda a, p: a + p
        )

    scored = F.array(
        *[
            F.struct(d2(cv).alias("d2"), F.lit(cid).cast(cid_type).alias("cid"))
            for cid, cv in cents
        ]
    )
    return v.select("id", F.array_min(scored)["cid"].alias("cluster"), "vec")


def _ivf_assign_np(
    vectors: DataFrame,
    cents: list,
    *,
    id_col: str,
    vec_col: str,
    cid_type,
) -> DataFrame:
    """Arrow-batched assignment kernel. Accumulates d² sequentially
    over vector components (the exact fold order of the expression
    form and the DuckDB oracle's list_reduce) in float64; np.argmin's
    first-occurrence rule over cid-sorted centroids IS the
    ties-to-lower-cid rule."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    cids = _np.asarray([c for c, _ in cents])
    C = _np.asarray([cv for _, cv in cents], dtype=_np.float64)  # k × dim
    dim = C.shape[1]
    v = ensure_parallelism(vectors).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    out_schema = StructType(
        [
            StructField("id", v.schema["id"].dataType),
            StructField("cluster", cid_type),
            StructField("vec", v.schema["vec"].dataType),
        ]
    )

    def op(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.stack(pdf["vec"].to_numpy()).astype(_np.float64)
            d2 = _np.zeros((len(pdf), C.shape[0]))
            for l in range(dim):
                diff = X[:, l : l + 1] - C[:, l][None, :]
                d2 += diff * diff
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "cluster": cids[_np.argmin(d2, axis=1)],
                    "vec": pdf["vec"],
                }
            )

    return v.mapInPandas(op, out_schema)


_LITERAL_K_CAP = 2048


def _ivf_assign_join(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    cid_col: str,
) -> DataFrame:
    """Large-k assignment: broadcast the centroid relation and fold the
    k scored copies per id back down with min_by — identical output to
    the literal argmin (same d2 fold, same struct tie order), one
    corpus-sized shuffle."""
    c = centroids.select(F.col(cid_col).alias("cid"), F.col(vec_col).alias("c_vec"))
    v = ensure_parallelism(vectors).select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    diff = F.zip_with(
        F.col("vec"), F.col("c_vec"), lambda x, y: (x.cast("double") - y.cast("double"))
    )
    dist2 = F.aggregate(
        F.zip_with(diff, diff, lambda x, y: x * y), F.lit(0.0), lambda a, p: a + p
    )
    scored = v.crossJoin(F.broadcast(c)).select("id", "vec", "cid", dist2.alias("d2"))
    return (
        scored.groupBy("id")
        .agg(F.min_by("cid", F.struct("d2", "cid")).alias("cluster"), F.first("vec").alias("vec"))
    )


def ivf_near_pairs(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "centroid_id",
    scope=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs restricted to IVF
    clusters — the scale-path variant of all-pairs cosine dedup.

    The assignment output is materialized before the self-join: both
    join sides read the same partitions, so the corpus scan + Arrow
    assignment kernel run ONCE instead of once per side. (The verify
    itself dominates wall time — see SCALE.md "Semantic dedup"; the
    materialization's value is not re-reading the source at cluster
    scale.) The shared intermediate's medium is size-chosen by
    `functions/cache.materialize`, as in verified_near_duplicates."""
    from tera_spark.functions.cache import materialize

    assigned = materialize(
        ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col, cid_col=cid_col),
        scope,
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    sim = F.round(cosine(F.col("a.vec"), F.col("b.vec")), 6)
    return (
        a.join(b, "cluster")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("cluster"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def windowed_semantic_pairs(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    threshold: float,
    window: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "centroid_id",
    scope=None,
) -> DataFrame:
    """Sorted-neighborhood semantic near-dup pairs — the linear-work
    scale path for the within-cluster verify that dominates
    ``ivf_near_pairs`` (measured in scripts/scale_smoke_semdedup.py:
    the pair cosines are ~all of the wall time).

    Within each cluster, members are ordered by exact L2 distance to
    their own centroid (ties → lower id): near-identical vectors have
    near-identical centroid distances, so true duplicates land in
    adjacent positions. Only pairs within ``window`` positions are
    cosine-verified — N·window comparisons total instead of
    sum(cluster²). Approximate by construction: a duplicate pair
    separated by more than ``window`` unrelated-but-equidistant
    vectors is missed (the classic sorted-neighborhood trade; recall
    is measured in the smoke).

    Plan shape: one cluster-keyed shuffle for the rank window, then an
    EQUI-join on (cluster, position) against a window-exploded copy
    (position+1 … position+window) — never a range-predicate join that
    Catalyst would plan as a filtered cross product. Deterministic on
    any engine: the d² sort key is the same sequential float64
    component fold the assignment kernel and the DuckDB oracles pin.
    """
    from pyspark.sql import Window as W

    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col, cid_col=cid_col)
    c = centroids.select(
        F.col(cid_col).alias("cluster"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("c_vec"),
    )
    diff = F.zip_with(
        F.col("vec"), F.col("c_vec"), lambda x, y: (x.cast("double") - y.cast("double"))
    )
    d2 = F.aggregate(
        F.zip_with(diff, diff, lambda x, y: x * y), F.lit(0.0), lambda acc, p: acc + p
    )
    ranked = (
        assigned.join(F.broadcast(c), "cluster")
        .select("cluster", "id", "vec", d2.alias("d2"))
        .withColumn(
            "pos", F.row_number().over(W.partitionBy("cluster").orderBy("d2", "id"))
        )
        .select("cluster", "pos", "id", "vec")
    )
    from tera_spark.functions.cache import materialize

    # without CBO the ranked relation's size estimate is the join-size
    # product (~4.5e24 B even on fixtures), so it takes the Parquet
    # branch at every scale — the gate's fail-safe side
    ranked = materialize(ranked, scope)
    probe = ranked.select(
        "cluster",
        F.explode(
            F.sequence(F.col("pos") + F.lit(1), F.col("pos") + F.lit(window))
        ).alias("pos_b"),
        F.col("id").alias("id_l"),
        F.col("vec").alias("vec_l"),
    )
    sim = F.round(cosine(F.col("vec_l"), F.col("vec")), 6)
    pairs = probe.join(
        ranked.withColumnRenamed("pos", "pos_b"), ["cluster", "pos_b"]
    ).select(
        "cluster",
        F.least(F.col("id_l"), F.col("id")).alias("id_a"),
        F.greatest(F.col("id_l"), F.col("id")).alias("id_b"),
        sim.alias("sim"),
    )
    return pairs.filter(F.col("sim") >= threshold)


def semantic_admission(
    corpus: DataFrame,
    incoming: DataFrame,
    centroids: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "centroid_id",
) -> DataFrame:
    """Batch-vs-corpus semantic admission — the embedding-space twin of
    ``dedup.incremental_dedup``'s band-bucket check, and the shape a
    continuously-ingesting pipeline actually runs (batch against the
    standing corpus, never corpus against corpus).

    Both sides are assigned to the FROZEN codebook (map-only kernel);
    each incoming vector is cosine-verified only against corpus members
    of its own cluster. Returns one row per incoming id:
    ``verdict`` = 'near' (best same-cluster corpus cosine ≥ threshold,
    with ``match_id``/``sim`` of that best match — ties break to the
    lower corpus id) or 'unique' (no same-cluster corpus member over
    the threshold; match_id/sim NULL).

    Scale shape: corpus scanned once, the verify join keys on cluster
    (cost = |incoming| × corpus-cluster size, bounded by k), and the
    best-match fold is a map-side-combinable max_by — no window over
    the pair set."""
    ca = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col, cid_col=cid_col)
    ia = ivf_assign(incoming, centroids, id_col=id_col, vec_col=vec_col, cid_col=cid_col)
    sim = F.round(cosine(F.col("i.vec"), F.col("c.vec")), 6)
    scored = (
        ia.alias("i")
        .join(ca.alias("c"), "cluster")
        .select(
            F.col("i.id").alias("id"),
            F.col("c.id").alias("match_id"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    best = scored.groupBy("id").agg(
        F.max_by(
            F.struct(F.col("match_id"), F.col("sim")),
            F.struct(F.col("sim"), (-F.col("match_id")).alias("nc")),
        ).alias("b")
    )
    inc_ids = ensure_parallelism(incoming).select(F.col(id_col).alias("id"))
    return inc_ids.join(best, "id", "left").select(
        "id",
        F.when(F.col("b").isNotNull(), F.lit("near")).otherwise(F.lit("unique")).alias("verdict"),
        F.col("b.match_id").alias("match_id"),
        F.col("b.sim").alias("sim"),
    )


def blocked_cosine_pairs(
    vectors: DataFrame,
    *,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks.

    The block key (a cluster id, shard, or IVF assignment from
    ``ivf_assign``) bounds the quadratic pair expansion: the self-join
    shuffles once on ``block_col`` and compares only within-block pairs,
    so cost is sum(block²) instead of N². Cosine is computed once per
    pair behind a projection boundary (Catalyst would otherwise inline
    the 64-element fold into both the filter and the output)."""
    v = ensure_parallelism(vectors).select(
        F.col(block_col).alias("block"), F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, "block")
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("sim", F.round(cosine(F.col("a.vec"), F.col("b.vec")), 6))
        .filter(F.col("sim") >= threshold)
        .select(
            F.col("a.id").cast("long").alias("id_a"),
            F.col("b.id").cast("long").alias("id_b"),
            "sim",
        )
    )


def ivf_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "centroid_id",
) -> DataFrame:
    """Approximate top-k neighbour SEARCH via inverted lists — the
    canonical IVF query shape: each query probes its ``nprobe`` nearest
    centroids and scores only vectors assigned to those lists (recall
    trades off against nprobe; nprobe = #centroids degenerates to
    exact).

    Scale shape: assignment is a map-only literal argmin (§ivf_assign
    — no wide stage at all); the probe table is queries×nprobe rows — broadcast — so
    candidate generation is a broadcast-hash-join against the assigned
    table keyed by cluster, map-side. Ranking windows partition by
    query id (output-sized, small). No N² anywhere; cost is
    O(N·nprobe/k_clusters) comparisons, exactly the FAISS IVF-flat
    plan re-expressed relationally."""
    from pyspark.sql import Window as W

    assigned = ivf_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col, cid_col=cid_col
    )
    c = centroids.select(F.col(cid_col).alias("cid"), F.col(vec_col).alias("c_vec"))
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    diff = F.zip_with(
        F.col("q_vec"), F.col("c_vec"), lambda x, y: (x.cast("double") - y.cast("double"))
    )
    d2 = F.aggregate(
        F.zip_with(diff, diff, lambda x, y: x * y), F.lit(0.0), lambda a, p: a + p
    )
    wp = W.partitionBy("q_id").orderBy("d2", "cid")
    probes = (
        q.crossJoin(F.broadcast(c))
        .select("q_id", "q_vec", "cid", d2.alias("d2"))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("q_id", "q_vec", "cid")
    )
    sims = (
        assigned.join(F.broadcast(probes), assigned["cluster"] == probes["cid"])
        .filter(F.col("id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("id").alias("v_id"),
            F.round(cosine(F.col("q_vec"), F.col("vec")), 6).alias("sim"),
        )
    )
    wr = W.partitionBy("q_id").orderBy(F.desc("sim"), "v_id")
    return (
        sims.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("q_id", "v_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


def train_sample(
    v: DataFrame, n: int | None, *, id_col: str = "id"
) -> DataFrame:
    """Deterministic training sample: the ``n`` rows with smallest
    h60(id) — a hash-uniform draw that any engine replays exactly
    (md5-based, so the DuckDB oracle can too; plans as a distributed
    TakeOrdered, never a global sort). Lloyd's
    centroids converge on sample statistics, so training on a bounded
    sample and encoding ALL vectors is the standard large-corpus
    k-means recipe (FAISS trains on ~max(10k·k, 256k) points); this
    turns the per-iteration cost from O(N) to O(n) while the encode
    pass stays one map-only sweep. ``n=None`` trains on everything.

    The seed rows (smallest k by the same hash) are always inside the
    sample, so small corpora (N <= n, e.g. every oracle fixture) train
    bit-identically with or without sampling."""
    if n is None:
        return v
    from tera_spark.functions.text import h60

    return v.orderBy(h60(F.col(id_col).cast("string")), id_col).limit(n)


def train_kmeans(
    vectors: DataFrame,
    *,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "centroid_id",
    sample: int | None = 100_000,
    round_to: int | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column — the training pass that
    produces a real IVF codebook (``ivf_assign``/``ivf_topk`` otherwise
    run on sampled-vector centroids). Pure DataFrame ops; the reference
    has no analog (tera delegates all computation to clients — this is
    north-star LLM-pipeline work).

    Init is deterministic: the k vectors with smallest xxhash64(id).
    Each Lloyd round is assign (map-only argmin against literal-inlined
    centroids, §ivf_assign — zero shuffles) + mean recompute
    (posexplode → one shuffle keyed by (cluster, pos) with map-side
    partial avg). Only k rows ever
    reach the driver per round, so the loop scales to any N; cost is
    iters × one shuffle over the TRAINING SAMPLE (``sample`` smallest-
    hash rows, persisted across rounds — see `train_sample`; pass
    sample=None for full-corpus training). Empty clusters keep their
    previous centroid (left-join + coalesce), so exactly k centroids
    survive every round.

    ``round_to`` quantizes every recomputed centroid component to that
    many decimals. This pins the ONLY engine-order-sensitive float op
    (the per-cluster mean's summation order) to a grid, making the
    whole training run reproducible on any engine — the
    ann_kmeans_clusters oracle replays it in DuckDB SQL. Seeds hash
    with the md5-based h60 (not xxhash64) for the same reason."""
    from tera_spark.functions.text import h60

    spark = vectors.sparkSession
    v = train_sample(
        ensure_parallelism(vectors).select(
            F.col(id_col).alias("id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
        ),
        sample,
    ).persist()  # read every Lloyd round: materialize once
    seed_rows = (
        v.orderBy(h60(F.col("id").cast("string")), "id")
        .limit(k)
        .select("vec")
        .collect()
    )
    cents = [(i, list(r[0])) for i, r in enumerate(seed_rows)]

    for _ in range(iters):
        cdf = spark.createDataFrame(cents, "cid long, c_vec array<double>").select(
            "cid", F.col("c_vec").alias("vec")
        )
        assigned = ivf_assign(v, cdf, id_col="id", vec_col="vec", cid_col="cid")
        mean_expr = F.avg("val")
        if round_to is not None:
            mean_expr = F.round(mean_expr, round_to)
        means = (
            assigned.select("cluster", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(mean_expr.alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("vec")
            )
            .collect()
        )
        new = {row["cluster"]: list(row["vec"]) for row in means}
        cents = [(cid, new.get(cid, old)) for cid, old in cents]

    v.unpersist()
    return spark.createDataFrame(cents, "cid long, c_vec array<double>").select(
        F.col("cid").alias(cid_col), F.col("c_vec").alias(vec_col)
    )


# --- random-hyperplane LSH (SimHash for vectors) ----------------------

N_PLANES = 32
BAND_BITS = 8  # 4 bands x 8 bits


def hyperplane_signs(n_planes: int = N_PLANES, dim: int = 64) -> list[list[int]]:
    """Deterministic Rademacher hyperplanes: component (h, d) is +-1 by
    md5 parity of "h:d". Any engine can regenerate the exact planes, so
    the DuckDB oracle bakes the same +-1 literals into its SQL — the
    signature computation is reproducible everywhere, unlike seeded
    PRNG planes (Charikar's scheme only needs sign-symmetric random
    components; Rademacher entries are a standard choice)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{h}:{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for d in range(dim)
        ]
        for h in range(n_planes)
    ]


def hyperplane_signature(vec: Column, planes: list[list[int]]) -> Column:
    """Pack sign bits of plane dots into one long. The vector is
    quantized to integer micro-units first: integer dots are
    associative, so Spark and the oracle agree on every sign no matter
    their summation order — a float dot near zero could flip a bit
    between engines and silently change buckets.

    Single nested fold over one constant 2-D plane array: unrolling 32
    independent dot expressions instead makes the generated code blow
    past Janino limits (measured: the query never finished compiling)."""
    q = F.transform(vec, lambda x: F.round(x.cast("double") * 1_000_000).cast("long"))
    planes2d = F.array(
        *[F.array(*[F.lit(s).cast("long") for s in row]) for row in planes]
    )
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(len(planes) - 1)),
        lambda h: F.when(
            F.aggregate(
                F.zip_with(F.get(planes2d, h), q, lambda s, a: s * a),
                F.lit(0).cast("long"),
                lambda acc, p: acc + p,
            )
            >= 0,
            # shiftleft() takes only a literal shift; 2^h is exact in
            # doubles for h<=31 so pow stands in for 1<<h
            F.pow(F.lit(2.0), h.cast("double")).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b)


def hyperplane_band_keys(sig: Column, *, n_planes: int = N_PLANES, band_bits: int = BAND_BITS) -> Column:
    mask = (1 << band_bits) - 1
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(b),
                F.shiftright(sig, b * band_bits).bitwiseAND(F.lit(mask)).cast("string"),
            )
            for b in range(n_planes // band_bits)
        ]
    )


def hyperplane_lsh_pairs(
    vectors: DataFrame,
    *,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scope=None,
) -> DataFrame:
    """Embedding near-duplicate pairs via random-hyperplane LSH:
    candidates collide on >=1 signature band, then exact cosine
    verifies. The third ANN path next to brute force (correctness
    baseline) and IVF (recall-tunable scale path): LSH needs no
    training pass, and for a collision probability of (1 - theta/pi)
    per bit the band structure bounds candidates to near-neighbours.

    Scale shape mirrors verified_near_duplicates: one materialized
    (id, vec, sig) table feeds the band self-join and both
    verification lookups; the band join is the only wide stage."""
    from tera_spark.functions.cache import materialize

    planes = hyperplane_signs(dim=dim)
    base = materialize(
        ensure_parallelism(vectors)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .withColumn("sig", hyperplane_signature(F.col("vec"), planes))
        .repartition("id"),
        scope,
    )
    sigs = base.select("id", F.explode(hyperplane_band_keys(F.col("sig"))).alias("bucket"))
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    v = base.select("id", "vec")
    return (
        cand.join(v.withColumnRenamed("id", "id_a").withColumnRenamed("vec", "vec_a"), "id_a")
        .join(v.withColumnRenamed("id", "id_b").withColumnRenamed("vec", "vec_b"), "id_b")
        .withColumn("sim", F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("sim") >= threshold)
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            "sim",
        )
    )


# --- product quantization (IVF-PQ scale path) -------------------------


def train_pq(
    vectors: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int | None = 100_000,
    round_to: int | None = None,
) -> list[list[list[float]]]:
    """Train a product-quantization codebook: split each vector into
    ``m`` subvectors and run Lloyd's k-means with ``k`` centroids in
    EVERY subspace simultaneously — one exploded (id, sub, subvec)
    relation, so each round costs one assign join + one mean shuffle
    for all m subspaces together, not m separate loops.

    Returns the codebook as plain nested lists, codebook[j][c] =
    centroid c of subspace j. A PQ codebook is small by construction
    (m×k×(dim/m) floats — k=256, m=16 over 64 dims is 4096 doubles),
    so the scale design is to collect it and inline it as a literal:
    encode and ADC search then compile to map-only expressions with no
    join at all (the FAISS design point, re-expressed relationally).

    Deterministic: seeds are the k subvectors with smallest h60(id)
    per subspace; ties in assignment break toward the lower centroid
    index. Training runs on the `train_sample` draw (``sample``
    smallest-hash vectors; None = all) — encode still sweeps every
    vector map-only. ``round_to`` quantizes recomputed sub-centroids
    (same engine-reproducibility role as in train_kmeans)."""
    from pyspark.sql import Window as W

    from tera_spark.functions.text import h60

    v = train_sample(
        ensure_parallelism(vectors).select(
            F.col(id_col).alias("id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
        ),
        sample,
    )
    dim = len(v.select("vec").first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    sub = v.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.alias("sub"), F.slice("vec", j * d_sub + 1, d_sub).alias("svec")
                ),
            )
        ).alias("s"),
    ).select("id", F.col("s.sub").alias("sub"), F.col("s.svec").alias("svec"))
    sub = sub.persist()

    ws = W.partitionBy("sub").orderBy(h60(F.col("id").cast("string")), "id")
    seeds = (
        sub.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= k)
        .select("sub", (F.col("rn") - 1).alias("cid"), "svec")
        .collect()
    )
    book: dict[tuple[int, int], list[float]] = {
        (r.sub, r.cid): list(r.svec) for r in seeds
    }

    for _ in range(iters):
        # the round's codebook stays driver-side — the argmin is a
        # projection per (id, sub) row (numpy kernel, or the codebook
        # inlined as an m×k×d_sub literal without numpy); the previous
        # broadcast-join + groupBy(id, sub) form shuffled the exploded
        # sample once per round just to fold k scored copies back down
        round_book = [[book[(j, c)] for c in range(k)] for j in range(m)]
        if _np is not None:
            assigned = _pq_round_assign_np(sub, round_book, k=k)
        else:
            cb = _pq_literal(round_book)
            cb_j = F.get(cb, F.col("sub"))

            def d2(c):
                diff = F.zip_with(F.col("svec"), F.get(cb_j, c), lambda x, y: x - y)
                return F.aggregate(
                    F.zip_with(diff, diff, lambda x, y: x * y), F.lit(0.0), lambda a, p: a + p
                )

            scored = F.array(
                *[F.struct(d2(c).alias("d2"), F.lit(c).alias("cid")) for c in range(k)]
            )
            assigned = sub.select(
                "id", "sub", F.array_min(scored)["cid"].alias("cluster"), "svec"
            )
        mean_expr = F.avg("val")
        if round_to is not None:
            mean_expr = F.round(mean_expr, round_to)
        means = (
            assigned.select("sub", "cluster", F.posexplode("svec").alias("pos", "val"))
            .groupBy("sub", "cluster", "pos")
            .agg(mean_expr.alias("mv"))
            .groupBy("sub", "cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))), lambda s: s["mv"]
                ).alias("svec")
            )
            .collect()
        )
        new = {(r.sub, r.cluster): list(r.svec) for r in means}
        book = {key: new.get(key, old) for key, old in book.items()}

    sub.unpersist()
    return [[book[(j, c)] for c in range(k)] for j in range(m)]


def _pq_round_assign_np(sub: DataFrame, round_book: list, *, k: int) -> DataFrame:
    """One Lloyd round's sub-centroid assignment as an Arrow-batched
    kernel over the exploded (id, sub, svec) relation — same float64
    sequential-accumulation d² and first-occurrence argmin as
    `_pq_encode_np`, vectorized per subspace within each batch."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    CB = _np.asarray(round_book, dtype=_np.float64)  # m × k × d_sub
    d_sub = CB.shape[2]
    out_schema = StructType(
        [
            StructField("id", sub.schema["id"].dataType),
            StructField("sub", sub.schema["sub"].dataType),
            StructField("cluster", IntegerType()),
            StructField("svec", sub.schema["svec"].dataType),
        ]
    )

    def op(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.stack(pdf["svec"].to_numpy()).astype(_np.float64)
            J = pdf["sub"].to_numpy()
            cluster = _np.empty(len(pdf), dtype=_np.int32)
            for j in _np.unique(J):
                mask = J == j
                S = X[mask]
                d2 = _np.zeros((S.shape[0], k))
                for l in range(d_sub):
                    diff = S[:, l : l + 1] - CB[j, :, l][None, :]
                    d2 += diff * diff
                cluster[mask] = _np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"], "sub": pdf["sub"], "cluster": cluster, "svec": pdf["svec"]}
            )

    return sub.mapInPandas(op, out_schema)


def _pq_literal(codebook: list[list[list[float]]]) -> Column:
    return F.array(
        *[
            F.array(*[F.array(*[F.lit(x) for x in cvec]) for cvec in sub_book])
            for sub_book in codebook
        ]
    )


def pq_encode(
    vectors: DataFrame,
    codebook: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
    kernel: str = "auto",
) -> DataFrame:
    """Encode each vector as m small codes (nearest sub-centroid per
    subspace). Map-only: no join, no shuffle, whatever N is.
    ``keep`` names passthrough columns (e.g. the IVF cluster id) so a
    caller never has to join the codes back to their source — that
    join would shuffle 2×N rows to reattach a column that was already
    in the row.

    ``kernel``: "auto" runs the Arrow-batched numpy kernel — the
    m×k argmin sweep is the densest arithmetic in the engine (~2k
    interpreted array-lambda ops per row in expression form) and the
    vectorized kernel measures 21× faster at bit-identical codes (see
    module docstring); "expr" forces the literal-unrolled projection
    (codebook inlined, zero Python in the plan)."""
    m = len(codebook)
    k = len(codebook[0])
    d_sub = len(codebook[0][0])
    if kernel == "numpy" and _np is None:
        raise RuntimeError('numpy is required for kernel="numpy" (pip install numpy)')
    if kernel == "numpy" or (kernel == "auto" and _np is not None):
        return _pq_encode_np(
            vectors, codebook, id_col=id_col, vec_col=vec_col, keep=keep,
            m=m, k=k, d_sub=d_sub,
        )
    cb = _pq_literal(codebook)
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def code_for(j):
        svec = F.slice(vec, j * d_sub + 1, d_sub)
        cb_j = F.get(cb, j)

        def d2(c):
            diff = F.zip_with(svec, F.get(cb_j, c), lambda x, y: x - y)
            return F.aggregate(
                F.zip_with(diff, diff, lambda x, y: x * y), F.lit(0.0), lambda a, p: a + p
            )

        # argmin via array_min over (d2, c) structs: one d2 evaluation
        # per candidate (the old when-fold evaluated it twice — 2× the
        # flops of the encode sweep, the N-sized build stage), and the
        # struct order ties toward the lower code exactly like the
        # strict-< fold did
        scored = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda c: F.struct(d2(c).alias("d"), c.alias("c")),
        )
        return F.array_min(scored)["c"]

    # j is a plan constant — unroll the m argmins into one array expr
    codes = F.array(*[code_for(j) for j in range(m)])
    return ensure_parallelism(vectors).select(
        F.col(id_col).alias("id"), *keep, codes.alias("codes")
    )


def _pq_encode_np(
    vectors: DataFrame,
    codebook: list[list[list[float]]],
    *,
    id_col: str,
    vec_col: str,
    keep: tuple[str, ...],
    m: int,
    k: int,
    d_sub: int,
) -> DataFrame:
    """Arrow-batched encode kernel: per subspace, d² accumulated
    sequentially over the d_sub components (the expression fold's
    exact order) in float64; np.argmin first-occurrence = ties toward
    the lower code, matching the (d², code) struct argmin."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    CB = _np.asarray(codebook, dtype=_np.float64)  # m × k × d_sub
    v = ensure_parallelism(vectors)
    in_schema = v.schema
    out_schema = StructType(
        [StructField("id", in_schema[id_col].dataType)]
        + [StructField(c, in_schema[c].dataType) for c in keep]
        + [StructField("codes", ArrayType(IntegerType()))]
    )

    def op(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.stack(pdf[vec_col].to_numpy()).astype(_np.float64)
            codes = _np.empty((len(pdf), m), dtype=_np.int32)
            for j in range(m):
                S = X[:, j * d_sub : (j + 1) * d_sub]
                d2 = _np.zeros((len(pdf), k))
                for l in range(d_sub):
                    diff = S[:, l : l + 1] - CB[j, :, l][None, :]
                    d2 += diff * diff
                codes[:, j] = _np.argmin(d2, axis=1)
            out = {"id": pdf[id_col]}
            for c in keep:
                out[c] = pdf[c]
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    return v.select(F.col(id_col), *keep, F.col(vec_col)).mapInPandas(op, out_schema)


def pq_topk(
    vectors: DataFrame,
    codebook: list[list[list[float]]],
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes: each query
    precomputes its m×k distance table against the literal codebook
    (query-side, tiny), then every encoded vector's distance is a pure
    m-term table lookup — sum_j table[j][codes[j]]. One broadcast of
    the query tables, one window per query for ranking; the N-sized
    side never shuffles. Approximation error is the quantization error;
    recall tuning = larger k / m, same plan."""
    from pyspark.sql import Window as W

    m = len(codebook)
    d_sub = len(codebook[0][0])
    cb = _pq_literal(codebook)
    enc = pq_encode(vectors, codebook, id_col=id_col, vec_col=vec_col)

    qvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def qtab_for(j):
        svec = F.slice(qvec, j * d_sub + 1, d_sub)
        return F.transform(
            F.get(cb, j),
            lambda cvec: F.aggregate(
                F.zip_with(
                    F.zip_with(svec, cvec, lambda x, y: x - y),
                    F.zip_with(svec, cvec, lambda x, y: x - y),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda a, p: a + p,
            ),
        )

    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.array(*[qtab_for(j) for j in range(m)]).alias("qtab"),
    )
    adc = F.aggregate(
        F.zip_with(F.col("codes"), F.col("qtab"), lambda c, row: F.get(row, c)),
        F.lit(0.0),
        lambda a, p: a + p,
    )
    scored = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("q_id"))
        .select("q_id", F.col("id").alias("v_id"), F.round(adc, 6).alias("adc_d2"))
    )
    wr = W.partitionBy("q_id").orderBy("adc_d2", "v_id")
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("q_id", "v_id", "adc_d2", F.col("rank").cast("long").alias("rank"))
    )


def hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    rank_lo: int,
    rank_hi: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each anchor, the candidates ranked [rank_lo, rank_hi] by cosine —
    similar enough to be informative, far enough to be true negatives
    (the standard band heuristic). Deterministic: (rounded sim DESC,
    id) ranking, same tie rule as cosine_topk.

    Scale shape: identical to brute-force top-k (anchor side
    broadcasts, corpus side streams, WindowGroupLimit prunes partial
    ranks map-side before the per-anchor shuffle); at 100 TB swap the
    exact ranking for ivf_topk/pq_topk with a widened k and keep the
    band filter — same output contract."""
    from pyspark.sql import Window as W

    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    v = ensure_parallelism(vectors).select(
        F.col(id_col).alias("v_id"), F.col(vec_col).alias("v_vec")
    )
    sims = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("v_id") != F.col("q_id"))
        .select(
            "q_id",
            "v_id",
            F.round(cosine(F.col("q_vec"), F.col("v_vec")), 6).alias("sim"),
        )
    )
    wr = W.partitionBy("q_id").orderBy(F.desc("sim"), "v_id")
    return (
        sims.withColumn("rank", F.row_number().over(wr))
        .filter((F.col("rank") >= rank_lo) & (F.col("rank") <= rank_hi))
        .select("q_id", "v_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


def semantic_drop_list(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "centroid_id",
) -> DataFrame:
    """Semantic dedup (the SemDeDup pattern): assign every vector to a
    centroid, find within-cluster pairs with cosine >= threshold, and
    emit the DROP list — for each near-duplicate pair the higher id
    drops, transitively (a doc survives only if no kept lower-id
    near-duplicate exists; with the min-id keeper rule, dropping every
    doc that has ANY lower-id neighbor is exactly that closure).

    Scale shape: identical to ivf_near_pairs (map-only assignment +
    one shuffle on cluster id, pair cost N²/k) plus a per-id distinct
    on the pair output. Returns (id, kept_neighbor) — kept_neighbor is
    the smallest lower-id near-duplicate, as drop-reason evidence."""
    pairs = ivf_near_pairs(
        vectors, centroids, threshold=threshold,
        id_col=id_col, vec_col=vec_col, cid_col=cid_col,
    )
    return (
        pairs.groupBy(F.col("id_b").alias("id"))
        .agg(F.min("id_a").alias("kept_neighbor"))
    )


def quantize_int8(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|v| / 127,
    code[i] = round(v[i] / scale). 4× smaller than float32 — the
    storage format a 100 TB vector store actually ships (codes as
    tinyint + one float scale per vector). Codes stay exact small
    integers, so downstream integer dot products are bit-deterministic
    on any engine. Map-only."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) / 127.0
    codes = F.when(
        scale == 0, F.transform(v, lambda x: F.lit(0.0))
    ).otherwise(F.transform(v, lambda x: F.round(x.cast("double") / scale)))
    return ensure_parallelism(vectors).select(
        F.col(id_col), codes.alias("codes"), scale.alias("scale")
    )


def int8_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "auto",
) -> DataFrame:
    """Brute-force cosine top-k over int8-quantized codes. Cosine is
    invariant to the per-vector scale (cos(αx, βy) = cos(x, y)), so
    the codes feed the similarity directly — no dequantization pass,
    and the integer dot products are exact. Same plan shape as
    cosine_topk: one similarity matrix (numpy kernel by default —
    quantization itself stays a Catalyst projection, whose HALF_UP
    round has no cheap bit-exact numpy analog), one window ranking."""
    from pyspark.sql import Window as W

    qc = quantize_int8(queries, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("q_id"), F.col("codes").alias("q_vec")
    )
    vc = quantize_int8(vectors, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("v_id"), F.col("codes").alias("v_vec")
    )
    sims = _brute_sims(vc, qc, kernel).filter(F.col("v_id") != F.col("q_id")).select(
        "q_id", "v_id", F.round(F.col("_sim_raw"), 6).alias("sim_q")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim_q"), "v_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "v_id", "sim_q", F.col("rank").cast("long").alias("rank"))
    )
