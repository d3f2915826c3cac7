"""Persisted mergeable-sketch tables: incremental distinct counting.

The 100 TB problem: "distinct users per day / over any date range"
re-scans the fact table per question. The sketch-table answer: fold
each ingestion slice ONCE into a per-bucket HLL sketch row (a few KB,
Spark's Datasketches `hll_sketch_agg`), persist the sketches, and
answer any range question by unioning the covered buckets
(`hll_union_agg`) — reading KBs instead of TBs, mergeable across
builds because HLL union is associative/commutative/idempotent.

This is the same engineering stance as the reference's counter cells
(pre-folded, mergeable state instead of rescans) lifted to distinct
counting, where no exact mergeable cell exists. The estimate error is
the standard HLL bound (~1.04/sqrt(2^lgk); lgK=12 → ~1.6%).

The reference has no sketch surface; north-star addition alongside
queries/streaming_batch.py's one-shot sketch profiling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_hll_table(
    df: DataFrame,
    path: str,
    *,
    bucket_cols: list[str],
    value_col: str,
    lgk: int = 12,
    mode: str = "append",
) -> None:
    """Fold one slice into per-bucket HLL sketch rows and persist.

    Append-mode is the incremental path: a nightly build appends that
    day's buckets; re-running a day just adds another sketch row for
    the same bucket, and the query-side union absorbs duplicates
    (HLL union is idempotent on the same underlying set)."""
    (
        df.groupBy(*bucket_cols)
        .agg(F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("sketch"))
        .write.mode(mode)
        .parquet(path)
    )


def hll_distinct(
    spark: SparkSession,
    path: str,
    *,
    where: str | None = None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Estimate distinct counts from a sketch table: filter buckets
    (partition/footer pruning — the scan reads only covered buckets),
    union their sketches, estimate. With ``group_by``, one estimate
    per group (e.g. per event_type over a date range)."""
    sk = spark.read.parquet(path)
    if where:
        sk = sk.filter(where)
    agg = F.hll_sketch_estimate(F.hll_union_agg("sketch", F.lit(True))).alias(
        "distinct_estimate"
    )
    if group_by:
        return sk.groupBy(*group_by).agg(agg)
    return sk.agg(agg)


def reproducible_hll_distinct(
    df: DataFrame,
    *,
    value_col: str,
    group_cols: list[str],
    m: int = 16,
) -> DataFrame:
    """Engine-reproducible HLL distinct estimate (Flajolet et al. 2007):
    unlike Spark's Datasketches `approx_count_distinct` (opaque binary
    state), every step here is portable arithmetic on a 60-bit md5
    hash, so ANY engine — including the DuckDB oracle — computes the
    bit-identical estimate:

      bucket = low log2(m) hash bits; rho = leading-zeros+1 of the
      remaining 56-bit field (via integer length of bin(), no float
      log); per-bucket max(rho); and the harmonic sum is EXACT integer
      math — sum(2^(57-rho)) scaled by 2^57 — so no float-summation
      order can perturb it. The only float ops left (alpha·m²·2^57 /
      S, and the small-range ln branch) are IEEE-exact or quantized.

    Same mergeable-scale story as build_hll_table: per-bucket max is
    associative, partials stay map-side. Returns one row per group
    with `approx_distinct` (double, rounded to 4dp)."""
    from tera_spark.functions.text import h60

    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    p = m.bit_length() - 1
    h = h60(F.col(value_col).cast("string"))
    bucket = h.bitwiseAND(F.lit(m - 1))
    rest = F.shiftright(h, p)
    field_bits = 60 - p
    scale = field_bits + 1  # rho ranges 1..field_bits+1
    rho = F.when(rest == 0, F.lit(scale)).otherwise(
        F.lit(scale) - F.length(F.bin(rest))
    )
    regs = (
        df.select(*group_cols, bucket.alias("bkt"), rho.alias("rho"))
        .groupBy(*group_cols, "bkt")
        .agg(F.max("rho").alias("mr"))
    )
    per_group = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("present"),
        # variable-distance shift: the DataFrame shiftleft only takes a
        # literal count, so this one goes through the SQL form
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {scale} - mr)")).alias("s_present"),
    )
    zeros = F.lit(m) - F.col("present")
    s_total = F.col("s_present") + zeros * F.lit(1 << scale)
    raw = F.lit(alpha * m * m * float(1 << scale)) / s_total
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    ).otherwise(raw)
    return per_group.select(*group_cols, F.round(est, 4).alias("approx_distinct"))


def count_min_cells(
    df: DataFrame,
    *,
    key_col: str,
    d: int = 4,
    w: int = 64,
) -> DataFrame:
    """Build a count-min sketch (Cormode & Muthukrishnan 2005) over a
    key column as a d×w relation of (row, bucket, count) cells — the
    mergeable form: two sketches over different slices merge by adding
    matching cells, so incremental builds and map-side partials both
    come for free (same stance as build_hll_table).

    Engine-reproducible by construction: row i's hash is the 60-bit
    md5 prefix of ``"i:<key>"`` mod w (tera_spark.functions.text.h60),
    so ANY engine — including the DuckDB oracle — fills identical
    cells. The explode costs d rows per input row map-side only;
    partial aggregation collapses them to at most d·w cells per
    partition before the (tiny) shuffle."""
    from tera_spark.functions.text import h60

    key = F.col(key_col).cast("string")
    rb = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                (h60(F.concat(F.lit(f"{i}:"), key)) % w).alias("b"),
            )
            for i in range(d)
        ]
    )
    return (
        df.select(F.explode(rb).alias("rb"))
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    *,
    key_col: str,
    d: int = 4,
    w: int = 64,
    top_k: int = 20,
) -> DataFrame:
    """Heavy hitters via count-min: estimate each distinct key's
    frequency as min over the d sketch rows of its bucket count, and
    report the top_k keys by estimate (ties broken by key — fully
    deterministic) next to the exact count, so the overestimate
    introduced by bucket collisions is auditable.

    Scale shape: the sketch is d·w cells (KBs) built map-side in one
    pass; the per-key estimate side needs only the distinct-key
    relation (one shuffle) with the d cell slices broadcast onto it —
    at 100 TB the sketch build touches the facts once and the
    heavy-hitter query never re-reads them."""
    from tera_spark.functions.text import h60

    # the sketch is bounded at d·w cells by construction, so ONE
    # distributed build + a driver collect (same bounded-state stance
    # as the k-means centroid fold) turns the estimate side into pure
    # map-only expressions — without this, each of the d lookup joins
    # re-plans the cell aggregation and rescans the facts
    cell_rows = count_min_cells(df, key_col=key_col, d=d, w=w).collect()
    by_row: list[dict[int, int]] = [{} for _ in range(d)]
    for r in cell_rows:
        by_row[r.r][r.b] = r.c
    keys = (
        df.groupBy(F.col(key_col).cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    est = keys
    for i in range(d):
        cmap = F.create_map(
            *[F.lit(x) for bc in sorted(by_row[i].items()) for x in bc]
        )
        b = (h60(F.concat(F.lit(f"{i}:"), F.col("k"))) % w).cast("int")
        est = est.withColumn(f"c{i}", F.element_at(cmap, b).cast("long"))
    cms = F.least(*[F.col(f"c{i}") for i in range(d)])
    out = est.select(
        F.col("k").alias(key_col),
        cms.cast("long").alias("cms_count"),
        F.col("exact_count").cast("long").alias("exact_count"),
        (cms - F.col("exact_count")).cast("long").alias("overcount"),
    )
    return out.orderBy(F.col("cms_count").desc(), key_col).limit(top_k)


THETA_M = 1 << 60  # h60 hash space: hashes are uniform in [0, 2^60)


def theta_sketch(
    df: DataFrame,
    *,
    key_col: str,
    group_col: str,
    k: int = 32,
    scope=None,
) -> tuple[DataFrame, DataFrame]:
    """KMV/theta sketch (Beyer et al. 2007; Dasgupta et al. 2016) of
    the distinct-``key_col`` set per group: the k smallest DISTINCT
    60-bit hashes, plus each group's theta (the k-th smallest hash, or
    the full hash space M when the group holds fewer than k values —
    then the sketch IS the exact distinct set).

    Unlike HLL (union-only), theta sketches support INTERSECTION and
    DIFFERENCE estimates (theta_set_ops), the missing algebra for
    overlap/churn questions. Mergeable: the union sketch is the k
    smallest of the concatenation — min-rank selection is associative.
    Engine-reproducible: hash = shared md5-prefix h60, selection is
    integer ranking, so the DuckDB oracle fills identical sketches.

    Returns (sketch, thetas): sketch = (g, h) rows with rank <= k,
    thetas = (g, theta).

    Scale shape: one distinct shuffle on (group, hash) — unavoidable
    for any distinct-set question — then a per-group window; the
    sketches themselves are k rows per group (KBs), and every
    downstream set question touches only them."""
    from tera_spark.functions.text import h60

    base = df.select(
        F.col(group_col).alias("g"),
        h60(F.col(key_col).cast("string")).alias("h"),
    )
    return _theta_select(base, k, scope=scope)


def _theta_select(base: DataFrame, k: int, scope=None) -> tuple[DataFrame, DataFrame]:
    """k smallest distinct hashes per group + each group's theta. The
    ranked sketch is materialized — it feeds the theta derivation and
    both sides of every pair question; unpersisted, each consumer
    would replay the distinct shuffle over the facts (pass ``scope``
    for deterministic release, functions/cache.py contract)."""
    from pyspark.sql import Window as W

    from tera_spark.functions.cache import materialize

    rk = F.row_number().over(W.partitionBy("g").orderBy("h"))
    sk_ranked = materialize(
        base.distinct().withColumn("rk", rk).filter(F.col("rk") <= k), scope
    )
    th = sk_ranked.groupBy("g").agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == k, F.col("h"))), F.lit(THETA_M)
        ).alias("theta")
    )
    return sk_ranked.select("g", "h"), th


def theta_merge(
    partials: DataFrame, k: int = 32, *, scope=None
) -> tuple[DataFrame, DataFrame]:
    """Merge per-slice theta sketches: min-rank selection over the
    concatenated (g, h) partial rows — associative, so incremental and
    streaming builds compose freely."""
    return _theta_select(partials, k, scope=scope)


def theta_set_ops(
    sk: DataFrame,
    th: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """Set-algebra estimates for group pairs from their theta sketches:
    for each (ga, gb) in ``pairs``, scale the below-theta survivor
    counts by M/theta (theta = min of the two group thetas):

      est_a, est_b, est_union, est_intersect (4dp floor-truncated)

    Exact counts are NOT read — that is the point: at 100 TB the pair
    questions touch k-row sketches, never the facts."""
    a = (
        sk.join(F.broadcast(pairs), sk.g == pairs.ga)
        .select("ga", "gb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    )
    b = (
        sk.join(F.broadcast(pairs), sk.g == pairs.gb)
        .select("ga", "gb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    )
    fl = (
        a.unionByName(b)
        .groupBy("ga", "gb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    tha = th.select(F.col("g").alias("ga"), F.col("theta").alias("th_a"))
    thb = th.select(F.col("g").alias("gb"), F.col("theta").alias("th_b"))
    theta = F.least("th_a", "th_b")
    below = (
        fl.join(F.broadcast(tha), "ga")
        .join(F.broadcast(thb), "gb")
        .filter(F.col("h") < theta)
        .withColumn("theta", theta)
    )
    agg = below.groupBy("ga", "gb").agg(
        F.max("theta").alias("theta"),
        F.count(F.lit(1)).alias("n_u"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_i"),
        F.sum("in_a").alias("n_a"),
        F.sum("in_b").alias("n_b"),
    )

    def est(n):
        raw = (F.col(n).cast("double") * F.lit(float(THETA_M))) / F.col("theta").cast("double")
        return F.floor(raw * 10_000).cast("double") / 10_000

    return agg.select(
        "ga",
        "gb",
        est("n_a").alias("est_a"),
        est("n_b").alias("est_b"),
        est("n_u").alias("est_union"),
        est("n_i").alias("est_intersect"),
    )


def fixed_bin_quantiles(
    df: DataFrame,
    *,
    value_col: str,
    group_cols: list[str],
    lo: float,
    hi: float,
    n_bins: int = 128,
    quantiles: list[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Engine-reproducible quantile sketch: fixed-width histogram →
    CDF walk → first-bin midpoint per requested quantile, one column
    per quantile (q50/q95/...). Deterministic counterpart of
    `percentile_approx` (GK sketches are engine-specific): bin
    assignment and cumulative counts are integer math, so any engine
    agrees exactly. Mergeable at scale exactly like build_hist_table
    (per-bin counts add); values outside [lo, hi) clamp to edge bins."""
    from pyspark.sql import Window as W

    width = (hi - lo) / n_bins
    v = F.col(value_col).cast("double")
    bin_ = F.least(
        F.lit(n_bins - 1), F.greatest(F.lit(0), F.floor((v - F.lit(lo)) / F.lit(width)).cast("int"))
    )
    bins = (
        df.select(*group_cols, bin_.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wg = W.partitionBy(*group_cols)
    cdf = bins.withColumn("cum", F.sum("cnt").over(wg.orderBy("bin"))).withColumn(
        "total", F.sum("cnt").over(wg)
    )
    mid = F.lit(lo) + (F.col("bin") + 0.5) * F.lit(width)
    aggs = [
        F.min(F.when(F.col("cum") >= F.lit(q) * F.col("total"), mid)).alias(
            f"q{int(q * 100)}"
        )
        for q in quantiles
    ]
    return cdf.groupBy(*group_cols).agg(*aggs)


def build_hist_table(
    df: DataFrame,
    path: str,
    *,
    bucket_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
    mode: str = "append",
) -> None:
    """Fold one slice into per-bucket fixed-width histograms
    (map bin→count) — the mergeable-quantile companion to the HLL
    table: histogram merge is element-wise count addition, so any
    bucket range answers percentile/CDF questions from KBs.

    Unlike HLL, counts are NOT idempotent under slice re-append —
    rebuild a slice with ``mode="overwrite"`` on its partition (or
    dedupe upstream). Values outside [lo, hi) clamp to the edge bins
    (bin 0 / n_bins-1), so the tails stay accounted."""
    v = F.col(value_col).cast("double")
    bin_ = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((v - F.lit(lo)) / F.lit((hi - lo) / n_bins)).cast("int")),
    )
    (
        df.groupBy(*bucket_cols, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(*bucket_cols)
        .agg(F.map_from_entries(F.sort_array(F.collect_list(F.struct("bin", "cnt")))).alias("hist"))
        .withColumn("lo", F.lit(float(lo)))
        .withColumn("hi", F.lit(float(hi)))
        .withColumn("n_bins", F.lit(n_bins))
        .write.mode(mode)
        .parquet(path)
    )


def hist_quantile(
    spark: SparkSession,
    path: str,
    quantiles: list[float],
    *,
    where: str | None = None,
) -> DataFrame:
    """Estimate quantiles over any bucket range: merge covered
    histograms (explode + per-bin SUM — associative), walk the CDF,
    return each requested quantile's bin midpoint. Error is bounded
    by bin width; one row per requested quantile."""
    sk = spark.read.parquet(path)
    if where:
        sk = sk.filter(where)
    bins = (
        sk.select("lo", "hi", "n_bins", F.explode("hist").alias("bin", "cnt"))
        .groupBy("lo", "hi", "n_bins", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("lo", "hi", "n_bins").orderBy("bin")
    cdf = bins.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(W.partitionBy("lo", "hi", "n_bins"))
    )
    qdf = spark.createDataFrame([(float(q),) for q in quantiles], "q double")
    width = (F.col("hi") - F.col("lo")) / F.col("n_bins")
    hit = (
        cdf.join(qdf, F.col("cum") >= F.col("q") * F.col("total"))
        .groupBy("q")
        .agg(
            F.min_by(
                F.col("lo") + (F.col("bin") + 0.5) * width, F.col("bin")
            ).alias("estimate")
        )
    )
    return hit.orderBy("q")
