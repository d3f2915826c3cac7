"""End-to-end composed ingestion pipeline: the pieces the engine ships
separately (streaming dedup admission, quality gating, the cell-table
write path, secondary indexes with CDC refresh) chained into the
continuously-running corpus builder a training-data platform actually
deploys — arriving parquet batches stream through foreachBatch, the
checkpoint is the ack, and the clean corpus is a normal cell table
every other operator (scan/compact/index/snapshot) works on.

Reference analog: tera's observer framework is exactly this
arrive→process→ack loop (scanner_impl.cc polling + OnNotify bodies);
here the body composes dedup + quality + indexed storage.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tera_spark.catalog import Catalog
from tera_spark.model import CellOp
from tera_spark.streaming.dedup_stream import DedupAdmission

DOCS1 = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog today"),   # exact dup of 1
    (3, "completely different words about spark engines and cell stores"),
    (4, "tiny doc"),                                            # fails quality gate
    (5, "yet another unique document with plenty of distinct words inside"),
]
DOCS2 = [
    (6, "the quick brown fox jumps over the lazy dog today"),   # cross-batch exact dup
    (7, "fresh second wave content that nobody has ever written before now"),
    (8, "small one"),                                           # fails quality gate
]


def _drain(spark, src, ck, process):
    s = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        s.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


@pytest.mark.slow
def test_streaming_corpus_ingestion_pipeline(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    ck = tmp_path / "ck"
    adm = DedupAdmission(spark, str(tmp_path / "dedup"))
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("docs_clean { d }")
    epochs: list[int] = []

    def process(df, eid):
        epochs.append(int(df.count()))
        verdicts = adm.admit(df, eid)
        unique = verdicts.filter(F.col("verdict") == "unique").select("id")
        admitted = df.join(unique, df.doc_id == unique.id).drop("id")
        # quality gate AFTER admission: rejected docs still extend the
        # standing sets, so a re-arriving copy stays an exact dup
        kept = admitted.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 5)
        cells = kept.select(
            F.concat(F.lit("doc"), F.lpad(F.col("doc_id").cast("string"), 6, "0")).alias(
                "row_key"
            ),
            F.lit("d").alias("cf"),
            F.lit("text").alias("qualifier"),
            F.lit(1).cast("long").alias("ts"),
            F.lit(CellOp.PUT).alias("op"),
            F.col("text").cast("binary").alias("value"),
            F.col("doc_id").alias("seq"),
        )
        # doc ids rise monotonically across batches, so max(doc_id) is a
        # valid group-commit watermark for the clean table
        cat.append("docs_clean", cells, op_kinds=[CellOp.PUT])

    # --- wave 1 -------------------------------------------------------
    spark.createDataFrame(DOCS1, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    _drain(spark, src, ck, process)

    clean = {r.row_key: bytes(r.value).decode() for r in cat.view("docs_clean").collect()}
    # doc2 = exact dup (dropped), doc4 = quality reject; 1, 3, 5 survive
    assert set(clean) == {"doc000001", "doc000003", "doc000005"}

    # the clean corpus is a NORMAL cell table: index it by value
    cat.create_index("docs_clean", "d", "text")
    hits = cat.lookup_by_value("docs_clean", "d", "text", DOCS1[0][1])
    assert {r.row_key for r in hits.collect()} == {"doc000001"}

    # --- wave 2: same checkpoint drains ONLY the new file -------------
    spark.createDataFrame(DOCS2, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    _drain(spark, src, ck, process)
    assert epochs == [5, 3]  # exactly-once: wave 1 not re-processed

    clean2 = {r.row_key for r in cat.view("docs_clean").collect()}
    # doc6 = cross-batch exact dup (standing hash set caught it),
    # doc8 = quality reject; only doc7 joins the corpus
    assert clean2 == {"doc000001", "doc000003", "doc000005", "doc000007"}

    # CDC index refresh picks up exactly the wave-2 change set
    r = cat.refresh_index("docs_clean", "d", "text")
    assert r["changes"] == 1
    hits7 = cat.lookup_by_value("docs_clean", "d", "text", DOCS2[1][1])
    assert {r.row_key for r in hits7.collect()} == {"doc000007"}

    # audit log agrees with the stored corpus
    v = {r.id: r.verdict for r in adm.decisions().collect()}
    assert v[2] == "exact" and v[6] == "exact"
    assert v[1] == "unique" and v[7] == "unique"
