"""Cell-model operator queries — each builds a deterministic op-log
from the driver's TPC-H tables, runs the engine's operators (view,
scan, merge, batch-get, KV/TTL, secondary index), and is checked
against a DuckDB oracle that expresses the *semantics* in plain SQL.

The Spark side exercises the real machinery (binary codecs, tombstone
masking, merge-on-read); the oracle states what the result must be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tera_spark.functions.codecs import be_i64_decode, be_i64_encode
from tera_spark.functions.timeutil import epoch_micros
from tera_spark.model import CellOp
from tera_spark.operators.scan import ScanDescriptor, batch_get, scan
from tera_spark.operators.view import current_view, kv_view
from tera_spark.queries import query
from tera_spark.registry import TableSchema
from tera_spark.sources.tables import load

NOW = 2_000_000_000_000_000  # fixed epoch-us so TTL results are deterministic


def _schema(cf: str, maxv: int = 1) -> TableSchema:
    t = TableSchema("q")
    t.add_column_family(cf, max_versions=maxv)
    return t


def _customer_cells(spark: SparkSession, sf: str) -> DataFrame:
    cust = load(spark, sf, "customer")
    base = cust.select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.col("c_custkey").alias("seq"),
        "c_name",
        "c_mktsegment",
    )
    name_cells = base.select(
        "row_key",
        F.lit("profile").alias("cf"),
        F.lit("name").alias("qualifier"),
        F.lit(1).cast("long").alias("ts"),
        F.lit(CellOp.PUT).alias("op"),
        F.col("c_name").cast("binary").alias("value"),
        "seq",
    )
    seg_cells = base.select(
        "row_key",
        F.lit("profile").alias("cf"),
        F.lit("segment").alias("qualifier"),
        F.lit(1).cast("long").alias("ts"),
        F.lit(CellOp.PUT).alias("op"),
        F.col("c_mktsegment").cast("binary").alias("value"),
        "seq",
    )
    return name_cells.unionByName(seg_cells)


@query(
    "cell_scan_range_projection",
    """
    SELECT lpad(cast(c_custkey AS varchar), 10, '0') AS row_key,
           'name' AS qualifier, c_name AS val
    FROM customer
    WHERE lpad(cast(c_custkey AS varchar), 10, '0') >= '0000000100'
      AND lpad(cast(c_custkey AS varchar), 10, '0') <  '0000000500'
    """,
)
def cell_scan_range(spark: SparkSession, sf: str) -> DataFrame:
    cells = _customer_cells(spark, sf)
    desc = ScanDescriptor(
        start="0000000100", end="0000000500", columns={"profile": ["name"]}
    )
    v = scan(cells, _schema("profile"), desc, now_us=NOW, op_kinds={CellOp.PUT})
    return v.select("row_key", "qualifier", F.col("value").cast("string").alias("val"))


@query(
    "cell_multiversion_trim",
    """
    SELECT row_key, ts, val FROM (
      SELECT lpad(cast(l_orderkey AS varchar), 10, '0') AS row_key,
             cast(row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey)
                  AS bigint) AS ts,
             cast(cast(floor(l_quantity) AS bigint) AS varchar) AS val,
             count(*) OVER (PARTITION BY l_orderkey) AS cnt
      FROM lineitem
    ) WHERE ts > cnt - 2
    """,
)
def cell_multiversion(spark: SparkSession, sf: str) -> DataFrame:
    # the synthetic lineitem has duplicate (orderkey, linenumber) pairs, so
    # version timestamps come from a deterministic row_number ordering.
    # The numeric l_orderkey rides through window + fold as the row_key
    # (lpad is a bijection, so grouping/windowing by either key is the
    # same partition set, and neither the window's ORDER BY nor the
    # put-only fold ever orders BY row_key) — the exchange hashes and
    # the sort compares 8-byte longs instead of 10-char strings, and
    # lpad runs once per *output* row instead of per op-log cell. One
    # selectExpr = one py4j round-trip for the whole fixture (the
    # construction-latency fix OPTIMIZATION_r09 applied to the fold).
    li = load(spark, sf, "lineitem").selectExpr(
        "l_orderkey as row_key", "l_linenumber", "l_quantity", "l_extendedprice", "l_partkey"
    )
    over = (
        "over (partition by row_key order by "
        "l_linenumber, l_quantity, l_extendedprice, l_partkey)"
    )
    cells = li.selectExpr(
        "row_key",
        "'li' as cf",
        "'qty' as qualifier",
        f"cast(row_number() {over} as bigint) as ts",
        f"{int(CellOp.PUT)} as op",
        "cast(cast(cast(floor(l_quantity) as bigint) as string) as binary) as value",
        f"cast(row_number() {over} as bigint) as seq",
    )
    # the op-log is pure PUTs by construction → declare it and take
    # the fast fold (what the catalog derives from commit records)
    v = current_view(cells, _schema("li", maxv=2), now_us=NOW, op_kinds={CellOp.PUT})
    return v.selectExpr(
        "lpad(cast(row_key as string), 10, '0') as row_key",
        "ts",
        "cast(value as string) as val",
    )


@query(
    "cell_tombstone_mask",
    """
    WITH puts AS (
      SELECT lpad(cast(o_orderkey AS varchar), 10, '0') AS row_key, 10 AS ts,
             o_orderpriority AS val, o_orderstatus, o_totalprice
      FROM orders
    ),
    vip AS (
      SELECT lpad(cast(o_orderkey AS varchar), 10, '0') AS row_key, 30 AS ts,
             'vip' AS val, o_orderstatus, o_totalprice
      FROM orders WHERE o_totalprice > 200000
    )
    SELECT row_key, cast(ts AS bigint) AS ts, val FROM puts WHERE o_orderstatus <> 'F'
    UNION ALL
    SELECT row_key, cast(ts AS bigint) AS ts, val FROM vip
    """,
)
def cell_tombstone(spark: SparkSession, sf: str) -> DataFrame:
    # numeric o_orderkey rides through the fold as the row_key (the
    # lpad form is a bijection of it; the fold only groups/joins by
    # row_key, never orders by it), so the full-size exchange and the
    # mark joins hash longs, and lpad runs once per output row. Each
    # branch is one selectExpr — one py4j round-trip per branch
    # instead of ~10 (the construction-latency fix OPTIMIZATION_r09
    # applied to the fold's own builders).
    orders = load(spark, sf, "orders")
    puts = orders.selectExpr(
        "o_orderkey as row_key",
        "'st' as cf",
        "'prio' as qualifier",
        "cast(10 as bigint) as ts",
        f"{int(CellOp.PUT)} as op",
        "cast(o_orderpriority as binary) as value",
        "o_orderkey as seq",
    )
    dels = orders.where("o_orderstatus = 'F'").selectExpr(
        "o_orderkey as row_key",
        "'' as cf",
        "'' as qualifier",
        "cast(20 as bigint) as ts",
        f"{int(CellOp.DEL_ROW)} as op",
        "cast(null as binary) as value",
        "o_orderkey + 10000000 as seq",
    )
    vip = orders.where("o_totalprice > 200000").selectExpr(
        "o_orderkey as row_key",
        "'st' as cf",
        "'vip_q' as qualifier",
        "cast(30 as bigint) as ts",
        f"{int(CellOp.PUT)} as op",
        "cast('vip' as binary) as value",
        "o_orderkey + 20000000 as seq",
    )
    # vip qualifier named differently so the ts=10 put isn't a second version
    schema = TableSchema("q").add_column_family("st", max_versions=1)
    # puts + tombstones only → declare it and take the merge-free fold
    # (what the catalog derives from commit records; 19% measured)
    v = current_view(
        puts.unionByName(dels).unionByName(vip), schema, now_us=NOW,
        op_kinds={CellOp.PUT, CellOp.DEL_ROW},
    )
    return v.selectExpr(
        "lpad(cast(row_key as string), 10, '0') as row_key",
        "ts",
        "cast(value as string) as val",
    )


@query(
    "cell_counter_add_merge",
    """
    SELECT lpad(cast(l_suppkey AS varchar), 10, '0') AS row_key,
           cast(sum(cast(floor(l_quantity) AS bigint)) AS bigint) AS total_qty,
           cast(count(*) AS bigint) AS ts
    FROM lineitem GROUP BY l_suppkey
    """,
)
def cell_counter(spark: SparkSession, sf: str) -> DataFrame:
    # unique per-group ts via row_number: the engine's same-ts dedup is
    # reference behavior, so colliding timestamps would drop deltas.
    # Numeric l_suppkey rides through window + fold as the row_key
    # (bijective with the lpad form; nothing orders by row_key), so the
    # exchange/sort work on longs and lpad runs once per output row —
    # see cell_multiversion. One selectExpr = one py4j round-trip.
    li = load(spark, sf, "lineitem").selectExpr(
        "l_suppkey as row_key", "l_orderkey", "l_linenumber", "l_quantity"
    )
    over = "over (partition by row_key order by l_orderkey, l_linenumber, l_quantity)"
    cells = li.select(
        F.expr("row_key"),
        F.expr("'c'").alias("cf"),
        F.expr("'qty'").alias("qualifier"),
        F.expr(f"cast(row_number() {over} as bigint)").alias("ts"),
        F.expr(f"{int(CellOp.ADD)}").alias("op"),
        be_i64_encode(F.floor("l_quantity").cast("long")).alias("value"),
        F.expr(f"cast(row_number() {over} as bigint)").alias("seq"),
    )
    # pure-ADD op-log → the stacked-agg counter fold (what the catalog
    # derives from commit records on an Add-only table)
    v = current_view(cells, _schema("c"), now_us=NOW, op_kinds={CellOp.ADD})
    return v.select(
        F.lpad(F.col("row_key").cast("string"), 10, "0").alias("row_key"),
        be_i64_decode(F.col("value")).alias("total_qty"),
        "ts",
    )


@query(
    "cell_append_merge",
    """
    SELECT lpad(cast(l_orderkey AS varchar), 10, '0') AS row_key,
           string_agg(l_returnflag, '' ORDER BY l_linenumber, l_returnflag,
                      l_quantity, l_extendedprice) AS log
    FROM lineitem GROUP BY l_orderkey
    """,
)
def cell_append(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").withColumn(
        "row_key", F.lpad(F.col("l_orderkey").cast("string"), 10, "0")
    )
    # window on the derived row_key (bijective with the raw key): the
    # fixture's exchange then satisfies the view's row_key distribution,
    # so current_view adds no second shuffle
    wv = W.partitionBy("row_key").orderBy(
        "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    cells = li.select(
        "row_key",
        F.lit("l").alias("cf"),
        F.lit("log").alias("qualifier"),
        F.row_number().over(wv).cast("long").alias("ts"),
        F.lit(CellOp.APPEND).alias("op"),
        F.col("l_returnflag").cast("binary").alias("value"),
        F.row_number().over(wv).cast("long").alias("seq"),
    )
    v = current_view(cells, _schema("l"), now_us=NOW)
    return v.select("row_key", F.col("value").cast("string").alias("log"))


@query(
    "cell_put_ifabsent",
    """
    SELECT lpad(cast(l_partkey AS varchar), 10, '0') AS row_key,
           (array_agg(cast(l_suppkey AS varchar)
                      ORDER BY l_orderkey, l_linenumber, l_suppkey))[1] AS first_supp
    FROM lineitem GROUP BY l_partkey
    """,
)
def cell_ifabsent(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").withColumn(
        "row_key", F.lpad(F.col("l_partkey").cast("string"), 10, "0")
    )
    # window on the derived row_key (bijective with the raw key): the
    # fixture's exchange then satisfies the view's row_key distribution,
    # so current_view adds no second shuffle
    wv = W.partitionBy("row_key").orderBy("l_orderkey", "l_linenumber", "l_suppkey")
    cells = li.select(
        "row_key",
        F.lit("p").alias("cf"),
        F.lit("supp").alias("qualifier"),
        F.row_number().over(wv).cast("long").alias("ts"),
        F.lit(CellOp.PUT_IFABSENT).alias("op"),
        F.col("l_suppkey").cast("string").cast("binary").alias("value"),
        F.row_number().over(wv).cast("long").alias("seq"),
    )
    v = current_view(cells, _schema("p"), now_us=NOW)
    return v.select("row_key", F.col("value").cast("string").alias("first_supp"))


@query(
    "kv_ttl_scan",
    """
    SELECT lpad(cast(p_partkey AS varchar), 10, '0') AS key, p_brand AS brand
    FROM part WHERE p_partkey % 5 <> 0
    """,
)
def kv_ttl(spark: SparkSession, sf: str) -> DataFrame:
    part = load(spark, sf, "part")
    kv = part.select(
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key"),
        F.col("p_brand").cast("binary").alias("value"),
        F.when(F.col("p_partkey") % 5 == 0, F.lit(NOW - 1)).otherwise(F.lit(NOW + 10**9))
        .cast("long")
        .alias("expire_ts"),
    )
    return kv_view(kv, now_us=NOW).select("key", F.col("value").cast("string").alias("brand"))


@query(
    "cell_batch_get",
    """
    SELECT lpad(cast(c_custkey AS varchar), 10, '0') AS row_key,
           'name' AS qualifier, c_name AS val
    FROM customer WHERE c_custkey % 97 = 0
    UNION ALL
    SELECT lpad(cast(c_custkey AS varchar), 10, '0') AS row_key,
           'segment' AS qualifier, c_mktsegment AS val
    FROM customer WHERE c_custkey % 97 = 0
    """,
)
def cell_batch_get(spark: SparkSession, sf: str) -> DataFrame:
    cells = _customer_cells(spark, sf)
    cust = load(spark, sf, "customer").filter(F.col("c_custkey") % 97 == 0)
    keys = cust.select(F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"))
    v = batch_get(cells, _schema("profile"), keys, now_us=NOW, op_kinds={CellOp.PUT})
    return v.select("row_key", "qualifier", F.col("value").cast("string").alias("val"))


@query(
    "cell_row_map_shape",
    """
    SELECT lpad(cast(c_custkey AS varchar), 10, '0') AS row_key,
           cast(1 AS bigint) AS n_cf, cast(2 AS bigint) AS n_quals
    FROM customer WHERE c_custkey % 31 = 0
    """,
)
def cell_row_map(spark: SparkSession, sf: str) -> DataFrame:
    from tera_spark.operators.scan import to_row_map

    cells = _customer_cells(spark, sf)
    cust = load(spark, sf, "customer").filter(F.col("c_custkey") % 31 == 0)
    keys = cust.select(F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"))
    v = batch_get(cells, _schema("profile"), keys, now_us=NOW, op_kinds={CellOp.PUT})
    m = to_row_map(v)
    return m.select(
        "row_key",
        F.size(F.map_keys("row")).cast("long").alias("n_cf"),
        F.size(F.map_keys(F.element_at(F.col("row"), "profile"))).cast("long").alias("n_quals"),
    )


@query(
    "sec_index_lookup",
    """
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
    FROM customer WHERE c_mktsegment = 'BUILDING' AND c_nationkey = 5
    """,
)
def sec_index(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-C-style materialized secondary index
    (src/benchmark/tpcc/tpcc_schemas/t_customer_last_index): index
    row_key = segment|nation, qualifier = primary key; a lookup scans
    one index row then batch-gets the base rows."""
    cust = load(spark, sf, "customer")
    index = cust.select(
        F.concat_ws(
            "|", F.col("c_mktsegment"), F.lpad(F.col("c_nationkey").cast("string"), 5, "0")
        ).alias("row_key"),
        F.lit("idx").alias("cf"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("qualifier"),
        F.lit(1).cast("long").alias("ts"),
        F.lit(CellOp.PUT).alias("op"),
        F.lit(b"").alias("value"),
        F.col("c_custkey").alias("seq"),
    )
    hits = scan(
        index,
        _schema("idx"),
        ScanDescriptor(start="BUILDING|00005", end="BUILDING|00005\x00"),
        now_us=NOW,
        op_kinds={CellOp.PUT},
    ).select(F.col("qualifier").cast("long").alias("c_custkey"))
    return (
        cust.join(F.broadcast(hits), "c_custkey", "left_semi")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )


@query(
    "cell_value_filter",
    """
    SELECT lpad(cast(c_custkey AS varchar), 10, '0') AS row_key, qualifier, val
    FROM (
      SELECT c_custkey, 'bal' AS qualifier,
             cast(cast(round(c_acctbal * 100) AS bigint) AS varchar) AS val
      FROM customer WHERE round(c_acctbal * 100) >= 500000
      UNION ALL
      SELECT c_custkey, 'seg' AS qualifier, c_mktsegment AS val
      FROM customer WHERE round(c_acctbal * 100) >= 500000
    )
    """,
)
def cell_value_filter(spark: SparkSession, sf: str) -> DataFrame:
    """ValueFilter over an int64-LE-encoded balance column with
    whole-row semantics: passing rows keep ALL their cells."""
    from tera_spark.operators.filters import ValueFilter, apply_row_filter, encode_typed_col

    cust = load(spark, sf, "customer")
    bal = F.round(F.col("c_acctbal") * 100).cast("long")
    cells_bal = cust.select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.lit("f").alias("cf"),
        F.lit("bal").alias("qualifier"),
        F.lit(1).cast("long").alias("ts"),
        encode_typed_col(bal, "int64").alias("value"),
        bal.cast("string").alias("_sval"),
    )
    cells_seg = cust.select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.lit("f").alias("cf"),
        F.lit("seg").alias("qualifier"),
        F.lit(1).cast("long").alias("ts"),
        F.col("c_mktsegment").cast("binary").alias("value"),
        F.col("c_mktsegment").alias("_sval"),
    )
    v = cells_bal.unionByName(cells_seg)
    out = apply_row_filter(v, ValueFilter(">=", "f", "bal", 500000, "int64"))
    return out.select("row_key", "qualifier", F.col("_sval").alias("val"))


@query(
    "cell_filter_list_and_or",
    """
    SELECT lpad(cast(c_custkey AS varchar), 10, '0') AS row_key
    FROM customer
    WHERE round(c_acctbal * 100) > 300000
      AND (c_mktsegment = 'BUILDING' OR c_nationkey < 5)
    """,
)
def cell_filter_list(spark: SparkSession, sf: str) -> DataFrame:
    from tera_spark.operators.filters import (
        FilterList,
        ValueFilter,
        apply_row_filter,
        encode_typed_col,
    )

    cust = load(spark, sf, "customer")
    rk = F.lpad(F.col("c_custkey").cast("string"), 10, "0")

    def col_cells(qualifier, value_col):
        return cust.select(
            rk.alias("row_key"),
            F.lit("f").alias("cf"),
            F.lit(qualifier).alias("qualifier"),
            F.lit(1).cast("long").alias("ts"),
            value_col.alias("value"),
        )

    v = (
        col_cells("bal", encode_typed_col(F.round(F.col("c_acctbal") * 100).cast("long"), "int64"))
        .unionByName(col_cells("seg", F.col("c_mktsegment").cast("binary")))
        .unionByName(col_cells("nat", encode_typed_col(F.col("c_nationkey").cast("long"), "int32")))
    )
    flt = FilterList(
        "and",
        [
            ValueFilter(">", "f", "bal", 300000, "int64"),
            FilterList(
                "or",
                [
                    ValueFilter("==", "f", "seg", b"BUILDING", "binary"),
                    ValueFilter("<", "f", "nat", 5, "int32"),
                ],
            ),
        ],
    )
    return apply_row_filter(v, flt).select("row_key").distinct()


@query(
    "cell_max_qualifiers",
    """
    SELECT row_key, qualifier FROM (
      SELECT lpad(cast(l_suppkey AS varchar), 10, '0') AS row_key,
             lpad(cast(l_partkey AS varchar), 10, '0') AS qualifier,
             dense_rank() OVER (PARTITION BY l_suppkey
                                ORDER BY lpad(cast(l_partkey AS varchar), 10, '0')) AS qr
      FROM lineitem GROUP BY l_suppkey, l_partkey
    ) WHERE qr <= 5
    """,
)
def cell_max_qualifiers(spark: SparkSession, sf: str) -> DataFrame:
    """SetMaxQualifiers (scan.h:91-94): cap distinct qualifiers per
    (row, cf), counted in qualifier order."""
    li = load(spark, sf, "lineitem")
    cells = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lpad(F.col("l_suppkey").cast("string"), 10, "0").alias("row_key"),
            F.lit("q").alias("cf"),
            F.lpad(F.col("l_partkey").cast("string"), 10, "0").alias("qualifier"),
            F.lit(1).cast("long").alias("ts"),
            F.lit(CellOp.PUT).alias("op"),
            F.col("n").cast("string").cast("binary").alias("value"),
            F.col("l_partkey").alias("seq"),
        )
    )
    v = scan(
        cells, _schema("q"), ScanDescriptor(max_qualifiers=5), now_us=NOW, op_kinds={CellOp.PUT}
    )
    return v.select("row_key", "qualifier")


@query(
    "cell_check_and_apply",
    """
    SELECT lpad(cast(c_custkey AS varchar), 10, '0') AS row_key,
           CASE WHEN c_custkey = 1 THEN 'CAS_OK' ELSE c_mktsegment END AS val
    FROM customer WHERE c_custkey <= 5
    """,
)
def cell_check_and_apply(spark: SparkSession, sf: str) -> DataFrame:
    """CheckAndApply (table.h:140-142): CAS succeeds only when the
    current visible value equals the expected value. Row 1 is CAS'd
    with its true current value (applies), row 2 with a wrong expected
    value (must not apply)."""
    from tera_spark.operators.mutation import MutationBatch, check_and_apply
    from tera_spark.operators.scan import get

    cust = load(spark, sf, "customer")
    cells = cust.select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.lit("acct").alias("cf"),
        F.lit("segment").alias("qualifier"),
        F.lit(1).cast("long").alias("ts"),
        F.lit(CellOp.PUT).alias("op"),
        F.col("c_mktsegment").cast("binary").alias("value"),
        F.col("c_custkey").alias("seq"),
    )
    schema = _schema("acct")
    # read-modify-write round 1: expected matches → mutation applies
    cur = get(cells, schema, "0000000001", columns={"acct": ["segment"]}, now_us=NOW).collect()
    ok = check_and_apply(
        cells, schema, "0000000001", "acct", "segment",
        bytes(cur[0].value),
        MutationBatch(base_seq=10_000_000).put("0000000001", "acct", "segment", "CAS_OK", ts=2),
        now_us=NOW,
    )
    assert ok is not None
    # round 2: wrong expected value → no mutation
    no = check_and_apply(
        cells, schema, "0000000002", "acct", "segment",
        b"__not_the_value__",
        MutationBatch(base_seq=20_000_000).put("0000000002", "acct", "segment", "CAS_BAD", ts=2),
        now_us=NOW,
    )
    assert no is None
    v = current_view(cells.unionByName(ok), schema, now_us=NOW, op_kinds={CellOp.PUT})
    return v.filter(F.col("row_key") <= "0000000005").select(
        "row_key", F.col("value").cast("string").alias("val")
    )


@query(
    "cell_compact_fold",
    """
    SELECT row_key, ts, val, 'PUT' AS op FROM (
      SELECT lpad(cast(l_orderkey AS varchar), 10, '0') AS row_key,
             cast(row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey)
                  AS bigint) AS ts,
             cast(cast(floor(l_quantity) AS bigint) AS varchar) AS val,
             count(*) OVER (PARTITION BY l_orderkey) AS cnt
      FROM lineitem
    ) WHERE ts > cnt - 2
    """,
)
def cell_compact_fold(spark: SparkSession, sf: str) -> DataFrame:
    """Compaction (tablet_io.cc:605-632): fold the op-log into a
    materialized base of plain PUTs. Must equal the current view —
    compact-then-read ≡ read (default_compact_strategy.cc Drop vs
    ScanDrop share logic)."""
    from tera_spark.operators.compact import compact

    li = load(spark, sf, "lineitem").withColumn(
        "row_key", F.lpad(F.col("l_orderkey").cast("string"), 10, "0")
    )
    # window on the derived row_key (bijective with the raw key): the
    # fixture's exchange then satisfies the view's row_key distribution,
    # so current_view adds no second shuffle
    wv = W.partitionBy("row_key").orderBy(
        "l_linenumber", "l_quantity", "l_extendedprice", "l_partkey"
    )
    cells = li.select(
        "row_key",
        F.lit("li").alias("cf"),
        F.lit("qty").alias("qualifier"),
        F.row_number().over(wv).cast("long").alias("ts"),
        F.lit(CellOp.PUT).alias("op"),
        F.floor("l_quantity").cast("long").cast("string").cast("binary").alias("value"),
        F.row_number().over(wv).cast("long").alias("seq"),
    )
    folded = compact(cells, _schema("li", maxv=2), now_us=NOW)
    return folded.select(
        "row_key",
        "ts",
        F.col("value").cast("string").alias("val"),
        F.when(F.col("op") == CellOp.PUT, "PUT").alias("op"),
    )


@query(
    "cell_snapshot_read",
    """
    SELECT lpad(cast(c_custkey AS varchar), 10, '0') AS row_key,
           CASE WHEN c_custkey < 100 THEN 'UPDATED' ELSE c_mktsegment END AS val
    FROM customer
    """,
)
def cell_snapshot_read(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot reads (SetSnapshot scan.h:121, SnapshotIDToSeq
    tablet_io.cc:698-706): the view folded only over cells with
    seq <= snapshot. Updates for custkey < 100 are inside the
    snapshot; later updates (seq > snapshot) are invisible."""
    cust = load(spark, sf, "customer")

    def upd(pred, newval, seq_base):
        return cust.filter(pred).select(
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
            F.lit("acct").alias("cf"),
            F.lit("segment").alias("qualifier"),
            F.lit(2).cast("long").alias("ts"),
            F.lit(CellOp.PUT).alias("op"),
            F.lit(newval).cast("binary").alias("value"),
            (F.col("c_custkey") + seq_base).alias("seq"),
        )

    base = cust.select(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("row_key"),
        F.lit("acct").alias("cf"),
        F.lit("segment").alias("qualifier"),
        F.lit(1).cast("long").alias("ts"),
        F.lit(CellOp.PUT).alias("op"),
        F.col("c_mktsegment").cast("binary").alias("value"),
        F.col("c_custkey").alias("seq"),
    )
    in_snap = upd(F.col("c_custkey") < 100, "UPDATED", F.lit(1_000_000))
    after_snap = upd(F.col("c_custkey") >= 100, "TOO_LATE", F.lit(9_000_000))
    cells = base.unionByName(in_snap).unionByName(after_snap)
    v = scan(cells, _schema("acct"), now_us=NOW, snapshot_seq=2_000_000, op_kinds={CellOp.PUT})
    return v.select("row_key", F.col("value").cast("string").alias("val"))


@query(
    "cell_time_range_scan",
    """
    SELECT lpad(cast(o_orderkey AS varchar), 10, '0') AS row_key,
           cast(epoch_us(o_orderdate) AS bigint) AS ts,
           o_orderpriority AS val
    FROM orders
    WHERE epoch_us(o_orderdate) >= epoch_us(timestamp '1996-01-01 00:00:00')
      AND epoch_us(o_orderdate) <= epoch_us(timestamp '1996-12-31 23:59:59')
    """,
)
def cell_time_range(spark: SparkSession, sf: str) -> DataFrame:
    """SetTimeRange (scan.h:96-99): ts-interval predicate applied after
    version logic; here each order is one version stamped with its
    order date in epoch-microseconds."""
    orders = load(spark, sf, "orders")
    cells = orders.select(
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("row_key"),
        F.lit("o").alias("cf"),
        F.lit("prio").alias("qualifier"),
        epoch_micros(orders, "o_orderdate").alias("ts"),
        F.lit(CellOp.PUT).alias("op"),
        F.col("o_orderpriority").cast("binary").alias("value"),
        F.col("o_orderkey").alias("seq"),
    )
    desc = ScanDescriptor(ts_start=820_454_400_000_000, ts_end=852_076_799_000_000)
    v = scan(cells, _schema("o"), desc, now_us=NOW, op_kinds={CellOp.PUT})
    return v.select("row_key", "ts", F.col("value").cast("string").alias("val"))


@query(
    "cell_addint64_merge",
    """
    WITH seq AS (
      SELECT l_suppkey, cast(floor(l_quantity) AS bigint) AS qty,
             row_number() OVER (PARTITION BY l_suppkey
                                ORDER BY l_orderkey, l_linenumber, l_quantity) AS rn
      FROM lineitem
    )
    SELECT lpad(cast(l_suppkey AS varchar), 10, '0') AS row_key,
           cast(CASE WHEN max(rn) >= 2
                     THEN 1000 + sum(CASE WHEN rn > 2 THEN qty ELSE 0 END)
                     ELSE sum(qty) END AS bigint) AS counter
    FROM seq GROUP BY l_suppkey
    """,
)
def cell_addint64(spark: SparkSession, sf: str) -> DataFrame:
    """AddInt64 (little-endian native counter, TKT_ADDINT64,
    atomic_merge_strategy.cc:43) with a PUT landing mid-stream: the
    later PUT resets the merge base (default_compact_strategy.cc:182-185),
    so deltas older than the PUT are discarded. Delta at ts=1, PUT(1000)
    at ts=2, deltas from ts=3 on."""
    from tera_spark.functions.codecs import le_i64_decode, le_i64_encode

    li = load(spark, sf, "lineitem").withColumn(
        "row_key", F.lpad(F.col("l_suppkey").cast("string"), 10, "0")
    )
    wv = W.partitionBy("row_key").orderBy("l_orderkey", "l_linenumber", "l_quantity")
    rn = F.row_number().over(wv).cast("long")
    qty = F.floor("l_quantity").cast("long")
    cells = li.select(
        "row_key",
        F.lit("c").alias("cf"),
        F.lit("cnt").alias("qualifier"),
        rn.alias("ts"),
        F.when(rn == 2, F.lit(CellOp.PUT)).otherwise(F.lit(CellOp.ADDINT64)).alias("op"),
        F.when(rn == 2, le_i64_encode(F.lit(1000).cast("long")))
        .otherwise(le_i64_encode(qty))
        .alias("value"),
        rn.alias("seq"),
    )
    v = current_view(cells, _schema("c"), now_us=NOW)
    return v.select("row_key", le_i64_decode(F.col("value")).alias("counter"))


@query(
    "cell_filter_if_missing",
    """
    SELECT 'drop_missing' AS mode, lpad(cast(c_custkey AS varchar), 10, '0') AS row_key
    FROM customer
    WHERE c_acctbal >= 0 AND round(c_acctbal * 100) >= 200000
    UNION ALL
    SELECT 'keep_missing' AS mode, lpad(cast(c_custkey AS varchar), 10, '0') AS row_key
    FROM customer
    WHERE c_acctbal < 0 OR round(c_acctbal * 100) >= 200000
    """,
)
def cell_filter_missing(spark: SparkSession, sf: str) -> DataFrame:
    """filter_if_missing (value_filter.h:51-58): rows lacking the
    filtered column are dropped when the flag is set, kept when not.
    Only non-negative balances materialize a 'bal' cell, so negative-
    balance customers exercise the missing-column branch both ways."""
    from tera_spark.operators.filters import ValueFilter, encode_typed_col, matching_row_keys

    cust = load(spark, sf, "customer")
    bal = F.round(F.col("c_acctbal") * 100).cast("long")
    rk = F.lpad(F.col("c_custkey").cast("string"), 10, "0")
    seg_cells = cust.select(
        rk.alias("row_key"),
        F.lit("f").alias("cf"),
        F.lit("seg").alias("qualifier"),
        F.lit(1).cast("long").alias("ts"),
        F.col("c_mktsegment").cast("binary").alias("value"),
    )
    bal_cells = cust.filter(F.col("c_acctbal") >= 0).select(
        rk.alias("row_key"),
        F.lit("f").alias("cf"),
        F.lit("bal").alias("qualifier"),
        F.lit(1).cast("long").alias("ts"),
        encode_typed_col(bal, "int64").alias("value"),
    )
    visible = seg_cells.unionByName(bal_cells)
    strict = ValueFilter(">=", "f", "bal", 200000, "int64", filter_if_missing=True)
    lax = ValueFilter(">=", "f", "bal", 200000, "int64", filter_if_missing=False)
    return (
        matching_row_keys(visible, strict)
        .select(F.lit("drop_missing").alias("mode"), "row_key")
        .unionByName(
            matching_row_keys(visible, lax).select(F.lit("keep_missing").alias("mode"), "row_key")
        )
    )


@query(
    "cell_hash_key_batch_get",
    """
    SELECT lpad(cast(c_custkey AS varchar), 10, '0') AS user_key,
           c_mktsegment AS segment
    FROM customer WHERE c_custkey % 50 = 7
    """,
)
def cell_hash_batch_get(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-distributed table read path (hash tables,
    table_impl.cc:98): row keys stored as xxhash-prefix + user key so
    monotonic writers scatter, point reads compute the prefix before
    the lookup, and outputs strip it back off. The batch get is a
    broadcast semi-join on the *hashed* key — same file-pruning story
    as the plain layout because the table is range-sorted by hashed
    key."""
    from tera_spark.functions.keys import hash_prefix_key, strip_hash_prefix
    from tera_spark.operators.scan import batch_get

    cust = load(spark, sf, "customer")
    user_key = F.lpad(F.col("c_custkey").cast("string"), 10, "0")
    cells = cust.select(
        hash_prefix_key(user_key).alias("row_key"),
        F.lit("p").alias("cf"),
        F.lit("seg").alias("qualifier"),
        F.lit(1).cast("long").alias("ts"),
        F.lit(CellOp.PUT).alias("op"),
        F.col("c_mktsegment").cast("binary").alias("value"),
        F.col("c_custkey").alias("seq"),
    )
    wanted = cust.filter(F.col("c_custkey") % 50 == 7).select(
        hash_prefix_key(user_key).alias("row_key")
    )
    got = batch_get(cells, _schema("p"), wanted)
    return got.select(
        strip_hash_prefix(F.col("row_key")).alias("user_key"),
        F.col("value").cast("string").alias("segment"),
    )


@query(
    "kv_lww_scan",
    """
    SELECT lpad(cast(o_orderkey AS varchar), 10, '0') AS key,
           CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END AS status
    FROM orders WHERE o_orderkey % 7 <> 0
    """,
)
def kv_lww(spark: SparkSession, sf: str) -> DataFrame:
    """KV-mode op-log fold: base put (seq=1) + overwrite (seq=2, every
    3rd key) + delete tombstone (seq=3, every 7th key) collapse by
    last-write-wins into the visible KV table (kv_current_view — one
    max_by aggregation). The oracle states the END STATE directly from
    the source table, so it checks the fold's semantics without
    replaying its mechanics."""
    from tera_spark.operators.view import kv_current_view

    orders = load(spark, sf, "orders")
    key = F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("key")
    nul = F.lit(None).cast("long").alias("expire_ts")

    def seqlit(n):
        return F.lit(n).cast("long").alias("seq")

    base = orders.select(
        key, F.col("o_orderstatus").cast("binary").alias("value"), nul, seqlit(1)
    )
    over = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        key, F.lit("X").cast("binary").alias("value"), nul, seqlit(2)
    )
    tomb = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        key, F.lit(None).cast("binary").alias("value"), nul, seqlit(3)
    )
    oplog = base.unionByName(over).unionByName(tomb)
    return kv_current_view(oplog).select(
        "key", F.col("value").cast("string").alias("status")
    )


@query(
    "cell_changefeed_diff",
    """
    SELECT lpad(cast(o_orderkey + 500000000 AS varchar), 10, '0') AS row_key,
           'INSERT' AS change_type, cast(NULL AS varchar) AS old_val,
           concat('clerk-', cast(o_custkey AS varchar)) AS new_val
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT lpad(cast(o_orderkey AS varchar), 10, '0') AS row_key,
           'DELETE' AS change_type, o_orderpriority AS old_val,
           cast(NULL AS varchar) AS new_val
    FROM orders WHERE o_totalprice < 50000
    UNION ALL
    SELECT lpad(cast(o_orderkey AS varchar), 10, '0') AS row_key,
           'UPDATE' AS change_type, o_orderpriority AS old_val,
           'expedite' AS new_val
    FROM orders WHERE o_orderstatus = 'O' AND o_totalprice >= 50000
    """,
)
def cell_changefeed(spark: SparkSession, sf: str) -> DataFrame:
    """Changefeed between two write sequences: the op-log grows inserts
    (new keys), updates, and row-deletes after the seq_start snapshot;
    changes_between must emit exactly the INSERT/UPDATE/DELETE delta
    set (the oracle states the expected set directly)."""
    from tera_spark.operators.view import changes_between

    orders = load(spark, sf, "orders")
    rk = F.lpad(F.col("o_orderkey").cast("string"), 10, "0")
    rk_new = F.lpad((F.col("o_orderkey") + 500_000_000).cast("string"), 10, "0")

    def cell(key, ts, op, val, seq_off):
        return [
            key.alias("row_key"),
            F.lit("st").alias("cf"),
            F.lit("prio").alias("qualifier"),
            F.lit(ts).cast("long").alias("ts"),
            F.lit(op).alias("op"),
            val.cast("binary").alias("value"),
            (F.col("o_orderkey") + seq_off).alias("seq"),
        ]

    base = orders.select(*cell(rk, 10, CellOp.PUT, F.col("o_orderpriority"), 0))
    ins = orders.filter(F.col("o_orderstatus") == "F").select(
        *cell(rk_new, 15, CellOp.PUT, F.concat(F.lit("clerk-"), F.col("o_custkey").cast("string")), 10_000_000)
    )
    upd = orders.filter(F.col("o_orderstatus") == "O").select(
        *cell(rk, 20, CellOp.PUT, F.lit("expedite"), 20_000_000)
    )
    dels = orders.filter(F.col("o_totalprice") < 50000).select(
        *cell(rk, 30, CellOp.DEL_ROW, F.lit(None), 30_000_000)
    )
    log = base.unionByName(ins).unionByName(upd).unionByName(dels)
    schema = TableSchema("q").add_column_family("st", max_versions=1)
    d = changes_between(log, schema, seq_start=9_999_999, now_us=NOW)
    return d.select(
        "row_key",
        "change_type",
        F.col("old_value").cast("string").alias("old_val"),
        F.col("new_value").cast("string").alias("new_val"),
    )


@query(
    "cell_media_current_decode",
    """
    WITH m AS (
      SELECT doc_id AS id, 30 + ((n_chars + 7) % 40) AS nf,
             [44100,48000,32000][(doc_id % 3) + 1] AS rate,
             CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 10 + 3 * (doc_id % 17) END AS id3v2,
             CASE WHEN doc_id % 5 = 0 THEN 128 ELSE 0 END AS id3v1
      FROM documents WHERE doc_id % 12 = 5
    ),
    fr AS (
      SELECT id, nf, rate, id3v2, id3v1, i,
             [32,40,48,56,64,80,96,112,128,160,192,224,256,320][
               CASE WHEN id % 2 = 0 THEN 1 + ((id + i*3) % 14) ELSE 1 + (id % 14) END
             ] AS kbps,
             i % 2 AS pad
      FROM m, unnest(range(0, nf)) AS t(i)
    )
    SELECT cast(id AS bigint) AS asset_id,
           cast(id3v2 + id3v1 + sum(144000 * kbps // rate + pad) AS bigint) AS n_bytes,
           cast(nf AS bigint) AS n_frames,
           cast(rate AS int) AS sample_rate,
           cast(nf * 1152 * 1000 // rate AS bigint) AS duration_ms,
           CASE WHEN id % 2 = 0 THEN 'vbr' ELSE 'cbr' END AS mode,
           cast(sum(kbps) // nf AS bigint) AS avg_kbps,
           cast(id3v2 AS bigint) AS id3v2_bytes,
           cast(id % 5 = 0 AS int) AS has_id3v1,
           CASE WHEN id % 2 = 0 THEN 'Xing' ELSE 'Info' END AS vbr_tag
    FROM fr GROUP BY id, nf, rate, id3v2, id3v1
    """,
)
def cell_media_current_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Media payloads THROUGH the cell engine: every asset is PUT
    twice (two different real MP3 streams as binary cell values), the
    current view folds maxversions=1, and the SURVIVING payload is
    re-parsed by the frame walk. The oracle replays the second
    version's formulas only (n = n_chars + 7), so the query fails if
    the multiversion fold picks the wrong version OR corrupts a single
    payload byte (the walk's n_bytes pins every frame boundary) —
    the proof that opaque binary values ride the op-log/fold machinery
    untouched, the tera data-model contract (README.md:31)."""
    from tera_spark.operators.multimodal import extract_mp3_metadata, synth_mp3_media

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 12 == 5)
    v1 = synth_mp3_media(docs)
    v2 = synth_mp3_media(docs.withColumn("n_chars", F.col("n_chars") + F.lit(7)))

    def to_cells(media: DataFrame, ts: int) -> DataFrame:
        return media.select(
            F.lpad(F.col("asset_id").cast("string"), 10, "0").alias("row_key"),
            F.lit("m").alias("cf"),
            F.lit("mp3").alias("qualifier"),
            F.lit(ts).cast("long").alias("ts"),
            F.lit(CellOp.PUT).alias("op"),
            F.col("payload").alias("value"),
            F.lit(ts).cast("long").alias("seq"),
        )

    log = to_cells(v1, 1).unionByName(to_cells(v2, 2))
    v = current_view(log, _schema("m", maxv=1), now_us=NOW, op_kinds={CellOp.PUT})
    survivors = v.select(
        F.col("row_key").cast("long").alias("asset_id"),
        F.lit("audio").alias("media_type"),
        F.col("value").alias("payload"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    return extract_mp3_metadata(survivors)
