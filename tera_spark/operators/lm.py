"""Persisted stupid-backoff n-gram language model: build once on a
reference corpus, score any number of corpora — the production CCNet
deployment shape (Wenzek et al. 2020 train their KenLM on Wikipedia
and score every CommonCrawl snapshot with it).

The model IS three mergeable count relations (trigram, bigram,
unigram) persisted as parquet — counts add, so ``extend()`` folds a
new corpus slice in by appending partial counts, and the score-side
read re-aggregates (the same merge-on-read stance as the HLL and
histogram sketch tables in operators/sketches.py). Context counts and
totals are DERIVED from the count relations (cctx = Σ_w3 c3 etc.), so
nothing can drift out of sync and the corpus is touched exactly three
times per build.

All surprisal math is floor-quantized to integer micro-nats before
any sum, so scores are independent of partitioning/row order and an
oracle engine reproduces them bit-for-bit (same contract as
textops.stupid_backoff_nll, which delegates here).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tera_spark.functions.text import tokens
from tera_spark.sources.tables import ensure_parallelism


def trigram_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w1, w2, w3) — one row per trigram position; docs with
    fewer than 3 tokens contribute nothing (map-only explode)."""
    t = tokens(F.col(text_col))
    base = ensure_parallelism(docs).select("doc_id", t.alias("t"))
    tri_arr = F.when(
        F.size("t") >= 3,
        F.transform(
            F.sequence(F.lit(2), F.size("t") - 1),
            lambda i: F.struct(
                F.get(F.col("t"), i - 2).alias("w1"),
                F.get(F.col("t"), i - 1).alias("w2"),
                F.get(F.col("t"), i).alias("w3"),
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<struct<w1:string,w2:string,w3:string>>)"))
    return base.select("doc_id", F.explode(tri_arr).alias("g")).select(
        "doc_id", "g.w1", "g.w2", "g.w3"
    )


def bigram_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = tokens(F.col(text_col))
    base = ensure_parallelism(docs).select(t.alias("t"))
    bi_arr = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.struct(
                F.get(F.col("t"), i - 1).alias("u1"), F.get(F.col("t"), i).alias("u2")
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<struct<u1:string,u2:string>>)"))
    return base.select(F.explode(bi_arr).alias("g")).select("g.u1", "g.u2")


def unigram_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = tokens(F.col(text_col))
    return ensure_parallelism(docs).select(t.alias("t")).select(F.explode("t").alias("w"))


def ngram_counts(
    train_docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three corpus-touching count relations (c3, cb, c1); every
    other quantity the scorer needs derives from these."""
    c3 = (
        trigram_stream(train_docs, text_col)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    cb = bigram_stream(train_docs, text_col).groupBy("u1", "u2").agg(
        F.count(F.lit(1)).alias("cb")
    )
    c1 = unigram_stream(train_docs, text_col).groupBy("w").agg(
        F.count(F.lit(1)).alias("c1")
    )
    return c3, cb, c1


def score_trigrams(
    tri: DataFrame,
    c3: DataFrame,
    cb: DataFrame,
    c1: DataFrame,
    *,
    backoff: float = 0.4,
    broadcast_row_cap: int = 4_000_000,
) -> DataFrame:
    """Per-doc stupid-backoff surprisal of a trigram stream against the
    count relations:

      S(w3|w1,w2) = c3/cctx              if the trigram was seen
                  = b · cb/c1ctx         else if the bigram was seen
                  = b² · (c1+1)/(N+V)    else (add-one floor, OOV-safe)

    cctx(w1,w2) = Σ_w3 c3, c1ctx(u1) = Σ_u2 cb, (N, V) = (Σ c1, |c1|)
    — derived by re-aggregating the Zipf-small count relations, never
    the corpus. One shuffle keyed by doc_id for the final fold.

    Broadcast policy: the hint is GATED, not unconditional — each
    count relation is counted (one small job over the already-
    aggregated relation; callers that materialize the relations
    pay it once) and broadcast only under ``broadcast_row_cap`` rows.
    Trigram diversity grows with the corpus, so at 100 TB the count
    relations can exceed the 8 GB broadcast hard limit; over the cap
    the joins degrade to shuffle joins by construction instead of
    OOMing a forced broadcast."""
    n3, nb, n1 = c3.count(), cb.count(), c1.count()

    def _hint(df: DataFrame, rows: int) -> DataFrame:
        return F.broadcast(df) if rows <= broadcast_row_cap else df

    cctx = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("cctx"))
    c1ctx = cb.groupBy("u1").agg(F.sum("cb").alias("c1ctx"))
    tot = c1.agg(
        F.sum("c1").cast("double").alias("n_tok"),
        F.count(F.lit(1)).cast("double").alias("v_tok"),
    )
    b = float(backoff)
    p = (
        F.when(F.col("c3").isNotNull(), F.col("c3").cast("double") / F.col("cctx").cast("double"))
        .when(
            F.col("cb").isNotNull(),
            F.lit(b) * F.col("cb").cast("double") / F.col("c1ctx").cast("double"),
        )
        .otherwise(
            F.lit(b * b)
            * (F.coalesce(F.col("c1"), F.lit(0)) + 1).cast("double")
            / (F.col("n_tok") + F.col("v_tok"))
        )
    )
    nll = F.floor(-F.log(p) * 1_000_000).cast("long")
    scored = (
        tri.join(_hint(c3, n3), ["w1", "w2", "w3"], "left")
        .join(_hint(cctx, n3), ["w1", "w2"], "left")
        .join(_hint(cb, nb), (F.col("w2") == F.col("u1")) & (F.col("w3") == F.col("u2")), "left")
        .drop("u1", "u2")
        .join(_hint(c1ctx, nb), F.col("w2") == F.col("u1"), "left")
        .drop("u1")
        .join(_hint(c1, n1), F.col("w3") == F.col("w"), "left")
        .drop("w")
        .crossJoin(F.broadcast(tot))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.floor(F.sum(nll).cast("double") / F.count(F.lit(1))).cast("long").alias("avg_nll_micro"),
    )


class NgramLM:
    """Build-once/score-many persisted LM (the VectorIndex stance for
    text): ``build`` writes the count relations, ``extend`` appends a
    slice's partial counts (merge-on-read re-aggregates), ``score``
    runs the stupid-backoff scorer against any corpus."""

    def __init__(self, spark: SparkSession, path: str, meta: dict):
        self.spark = spark
        self.path = Path(path)
        self.backoff = float(meta["backoff"])

    @classmethod
    def build(
        cls,
        docs: DataFrame,
        path: str,
        *,
        text_col: str = "text",
        backoff: float = 0.4,
    ) -> "NgramLM":
        import shutil

        spark = docs.sparkSession
        p = Path(path)
        p.mkdir(parents=True, exist_ok=True)
        shutil.rmtree(p / "slices", ignore_errors=True)
        lm = cls(spark, path, {"backoff": backoff})
        lm._write_slice(docs, text_col)
        (p / "meta.json").write_text(json.dumps({"backoff": backoff}))
        return lm

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "NgramLM":
        meta = json.loads((Path(path) / "meta.json").read_text())
        return cls(spark, path, meta)

    def extend(self, docs: DataFrame, *, text_col: str = "text") -> None:
        """Fold another corpus slice in by appending its partial counts
        — counts add, so no rebuild; score-side merge-on-read
        re-aggregates. ATOMIC per slice: the three count relations are
        written to a private staging dir and renamed into ``slices/``
        as one directory, so a crash mid-extend leaves only invisible
        staging garbage, never a torn model (counts for some n-gram
        orders updated but not others). Idempotence is NOT free:
        re-extending the same slice double-counts, same caveat as
        build_hist_table."""
        self._write_slice(docs, text_col)

    def _write_slice(self, docs: DataFrame, text_col: str) -> None:
        import uuid

        tag = uuid.uuid4().hex[:12]
        stage = self.path / f".stage-{tag}"
        c3, cb, c1 = ngram_counts(docs, text_col)
        c3.write.parquet(str(stage / "c3"))
        cb.write.parquet(str(stage / "cb"))
        c1.write.parquet(str(stage / "c1"))
        slices = self.path / "slices"
        slices.mkdir(parents=True, exist_ok=True)
        stage.rename(slices / f"slice-{tag}")  # atomic publish

    def _counts(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        base = str(self.path / "slices" / "*")
        c3 = (
            self.spark.read.parquet(base + "/c3")
            .groupBy("w1", "w2", "w3")
            .agg(F.sum("c3").alias("c3"))
        )
        cb = (
            self.spark.read.parquet(base + "/cb")
            .groupBy("u1", "u2")
            .agg(F.sum("cb").alias("cb"))
        )
        c1 = (
            self.spark.read.parquet(base + "/c1")
            .groupBy("w")
            .agg(F.sum("c1").alias("c1"))
        )
        return c3, cb, c1

    def score(self, docs: DataFrame, *, text_col: str = "text") -> DataFrame:
        """Per-doc (n_scored, avg_nll_micro) for any corpus — the LM is
        read from disk (KB–MB count tables), the corpus is scanned
        once."""
        c3, cb, c1 = self._counts()
        return score_trigrams(
            trigram_stream(docs, text_col), c3, cb, c1, backoff=self.backoff
        )
