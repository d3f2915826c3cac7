"""Bulk import/export round-trips: CSV/JSON/parquet → cell table →
rows again."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tera_spark.operators.view import current_view
from tera_spark.registry import TableSchema
from tera_spark.sources.ingest import export_rows, import_table, rows_to_cells

NOW = 2_000_000_000_000_000


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="tera_ingest_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_csv_import_round_trip(spark, tmpdir):
    src = spark.createDataFrame(
        [(1, "alice", 10.5), (2, "bob", None), (3, "carol", 7.25)],
        "id int, name string, score double",
    )
    src.coalesce(1).write.options(header=True).csv(f"{tmpdir}/src")
    n = import_table(
        spark, f"{tmpdir}/src", f"{tmpdir}/cells", key_col="id", fmt="csv", cf="d"
    )
    assert n == 5  # 3 names + 2 non-null scores
    schema = TableSchema("t").add_column_family("d")
    v = current_view(spark.read.parquet(f"{tmpdir}/cells"), schema, now_us=NOW)
    back = export_rows(v, key_col="id")
    got = {r.id: (r.name, r.score) for r in back.collect()}
    assert got["1"] == ("alice", "10.5")
    assert got["2"] == ("bob", None)  # NULL stayed NULL (no cell)


def test_parquet_import_prunes_on_key(spark, tmpdir):
    src = spark.createDataFrame(
        [(f"k{i:04d}", i) for i in range(1000)], "rk string, v int"
    )
    src.write.parquet(f"{tmpdir}/src")
    import_table(spark, f"{tmpdir}/src", f"{tmpdir}/cells", key_col="rk")
    cells = spark.read.parquet(f"{tmpdir}/cells")
    one = cells.filter(F.col("row_key") == "k0042")
    assert one.count() == 1
    assert bytes(one.collect()[0].value) == b"42"


def test_json_import(spark, tmpdir):
    src = spark.createDataFrame(
        [("a", "x", 1), ("b", "y", 2)], "k string, s string, n bigint"
    )
    src.coalesce(1).write.json(f"{tmpdir}/src")
    n = import_table(spark, f"{tmpdir}/src", f"{tmpdir}/cells", key_col="k", fmt="json")
    assert n == 4
    cells = spark.read.parquet(f"{tmpdir}/cells")
    quals = {r.qualifier for r in cells.select("qualifier").distinct().collect()}
    assert quals == {"s", "n"}


def test_row_bloom_filter_written(spark, tmp_path):
    from tera_spark.operators.mutation import MutationBatch
    from tera_spark.sources.tables import read_cell_table, write_cell_table

    b = MutationBatch()
    for i in range(300):
        b.put(f"k{i:04d}", "d", "q", f"v{i}", ts=1)
    cells = b.to_df(spark)
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    write_cell_table(cells, plain, buckets=2)
    write_cell_table(cells, bloomed, buckets=2, row_bloom_filter=True)

    def total(p):
        return sum(f.stat().st_size for f in (tmp_path / p).glob("part-*.parquet"))

    # the bloom filter is extra bytes in otherwise-identical files
    # (this pyarrow build doesn't expose bloom offsets in metadata)
    assert total("bloomed") > total("plain"), "bloom option added no filter bytes"
    # and the bloomed table still reads identically
    got = {r.row_key for r in read_cell_table(spark, bloomed).collect()}
    assert len(got) == 300


def test_orc_import_round_trip(spark, tmpdir):
    src = spark.createDataFrame(
        [(1, "alice", 10.5), (2, "bob", None)], "id int, name string, score double"
    )
    src.coalesce(1).write.orc(f"{tmpdir}/orcsrc")
    n = import_table(
        spark, f"{tmpdir}/orcsrc", f"{tmpdir}/orccells", key_col="id", fmt="orc", cf="d"
    )
    assert n == 3  # 2 names + 1 non-null score
    schema = TableSchema("t").add_column_family("d")
    v = current_view(spark.read.parquet(f"{tmpdir}/orccells"), schema, now_us=NOW)
    got = {r.id: (r.name, r.score) for r in export_rows(v, key_col="id").collect()}
    assert got["1"] == ("alice", "10.5") and got["2"] == ("bob", None)


def test_export_rows_qualifier_cap(spark):
    """A sparse-wide CF (qualifiers as data) must refuse to pivot into
    a driver-sized schema instead of OOM-ing (SetMaxQualifiers analog,
    include/tera/scan.h:91-94)."""
    import pytest

    from pyspark.sql import functions as F

    cells = spark.range(50).select(
        F.lit("r1").alias("row_key"),
        F.lit("d").alias("cf"),
        F.concat(F.lit("tag_"), F.col("id")).alias("qualifier"),
        F.lit(1).cast("long").alias("ts"),
        F.lit(0).alias("op"),
        F.col("id").cast("string").cast("binary").alias("value"),
        F.col("id").alias("seq"),
    )
    with pytest.raises(ValueError, match="distinct qualifiers"):
        export_rows(cells, max_qualifiers=10)
    wide = export_rows(cells, max_qualifiers=50)
    assert len(wide.columns) == 51  # row_key + 50 tags


def test_training_shard_writer(spark, tmp_path):
    from tera_spark.sources.sharding import read_shard, shard_id, write_training_shards
    import glob

    docs = spark.range(500).select(
        F.concat(F.lit("doc"), F.col("id")).alias("doc_id"), F.col("id").alias("payload")
    )
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, key_col="doc_id", n_shards=8)

    # exactly one data file per shard directory
    for k in range(8):
        files = glob.glob(f"{out}/shard={k}/*.parquet")
        assert len(files) == 1, (k, files)

    back = spark.read.parquet(out)
    assert back.count() == 500
    # assignment is the pure hash function of the key (reproducible)
    expect = docs.withColumn("shard", shard_id("doc_id", 8))
    assert back.select("doc_id", "shard").exceptAll(
        expect.select("doc_id", "shard")
    ).count() == 0
    # shards are roughly balanced (hash of distinct keys)
    sizes = [r.n for r in back.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len(sizes) == 8 and min(sizes) > 500 / 8 / 3
    # reading one shard returns exactly that shard's rows
    by_shard = {
        r.shard: r.n
        for r in back.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert read_shard(spark, out, 3).count() == by_shard[3]
