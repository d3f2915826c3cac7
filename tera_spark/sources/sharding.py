"""Deterministic training-shard writer: the output stage of a
training-data pipeline, where a curated corpus must land as a fixed
number of size-balanced, reproducibly-assigned shard files for the
tokenizer/dataloader fleet.

Reference analog: tera pre-splits tables into tablets by key
(`src/sdk/client_impl.cc:161-166` delimiters, murmur hash buckets
`src/sdk/table_impl.cc:98`); a shard here is the file-layout version of
a tablet — but assignment must be REPRODUCIBLE across runs and engines
(auditable data lineage), so it hashes the record key, never a random
or round-robin split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shard_id(key: F.Column | str, n_shards: int) -> F.Column:
    """Stable shard assignment: xxhash64 (fixed seed 42 inside Spark)
    of the key, non-negative mod n_shards. Pure function of the key —
    the same record lands in the same shard on every run and cluster
    size."""
    return F.pmod(F.xxhash64(F.col(key) if isinstance(key, str) else key), F.lit(n_shards))


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    key_col: str,
    n_shards: int,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` as ``shard=K`` directories, one file per shard.

    Plan shape: one exchange total — `repartitionByRange(n_shards,
    shard)` is a range partitioner over the dense ids 0..n-1, so each
    output task holds exactly one shard's rows and `partitionBy` emits
    exactly one file per shard (hash-repartitioning on the id would
    collide ids into some tasks and leave others empty → file-per-
    shard-per-task blowup). Balance comes from the key hash, not the
    partitioner. At 100 TB the same layout holds with
    `maxRecordsPerFile` splitting oversized shards into numbered parts
    within their directory."""
    out = df.withColumn("shard", shard_id(key_col, n_shards))
    (
        out.repartitionByRange(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .format(fmt)
        .save(path)
    )


def read_shard(spark, path: str, shard: int, fmt: str = "parquet") -> DataFrame:
    """Read one shard by directory (partition pruning — only that
    shard's files are listed/scanned)."""
    return spark.read.format(fmt).load(path).filter(F.col("shard") == shard)


def distributed_rank(
    df: DataFrame,
    order_cols: list[str],
    *,
    out: str = "global_rank",
    n_parts: int | None = None,
    scope=None,
) -> DataFrame:
    """Distributed dense total-order rank (1-based) over ``order_cols``
    — the scale-safe replacement for ``row_number() OVER (ORDER BY …)``
    (which funnels the corpus through ONE task): repartitionByRange
    materializes the total order as contiguous slices, each slice
    ranks locally, and an exclusive prefix sum of slice sizes
    (O(partitions) driver pass, never O(rows)) lifts local ranks to
    global ones. The ranged relation is materialized (functions/cache.py)
    so counts and ranks see one layout (pass ``scope`` for deterministic release).

    ``order_cols`` must be a total order (break ties with a key) or
    ranks are nondeterministic."""
    from pyspark.sql import Window as W

    from tera_spark.functions.cache import materialize

    spark = df.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = materialize(
        df.repartitionByRange(n_parts, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        ),
        scope,
    )
    sizes = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    acc, offsets = 0, {}
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off_lits = [lit for pid in sorted(offsets) for lit in (F.lit(pid), F.lit(offsets[pid]))]
    off_map = F.create_map(*off_lits) if off_lits else F.create_map()
    wloc = W.partitionBy("_pid").orderBy(*order_cols)
    rank = (F.row_number().over(wloc).cast("long") + off_map[F.col("_pid")]).cast("long")
    return ranged.withColumn(out, rank).drop("_pid")


def weighted_interleave(
    df: DataFrame,
    weights: dict[str, float],
    *,
    source_col: str = "source",
    key_col: str = "doc_id",
    scope=None,
) -> DataFrame:
    """Deterministic weighted interleaving of sources — the global read
    order a trainer consumes when the data mix is specified as source
    weights (e.g. web 0.6, code 0.3, books 0.1). Stride scheduling:
    the i-th record of a source with weight w sits at virtual position
    (i - 0.5) / w, and the global order sorts by that position — so a
    weight-0.6 source contributes 6 of every 10 consecutive records,
    deterministically, with no RNG and no coordination.

    Scale shape (the 100 TB path IS the implementation): the total
    order is materialized by `repartitionByRange(position, source,
    key)` — every executor holds one contiguous slice of the schedule —
    and `global_rank` is computed distributively as per-slice
    row_number plus an exclusive prefix sum of slice sizes (one
    driver-side pass over ≤ n_partitions counts, never over rows).
    There is no single-partition Exchange anywhere in the plan
    (asserted by tests/test_plan_quality.py); the old
    `row_number() OVER (ORDER BY ...)` form funneled the entire corpus
    through one task. Sources absent from ``weights`` are dropped
    (weight 0)."""
    from pyspark.sql import Window as W

    pairs = [p for kv in sorted(weights.items()) for p in (F.lit(kv[0]), F.lit(float(kv[1])))]
    wmap = F.create_map(*pairs)
    wsrc = W.partitionBy(source_col).orderBy(key_col)
    d = (
        df.withColumn("_w", wmap[F.col(source_col)])
        .filter(F.col("_w").isNotNull() & (F.col("_w") > 0))
        .withColumn("_rn", F.row_number().over(wsrc))
        .withColumn("position", (F.col("_rn") - 0.5) / F.col("_w"))
    )
    order_cols = ["position", source_col, key_col]
    return distributed_rank(d, order_cols, scope=scope).select(
        "global_rank", F.col(key_col), F.col(source_col), F.round("position", 6).alias("position")
    )
