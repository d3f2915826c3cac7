"""``analytics``: the 21 headline queries over a generated corpus,
repeated in passes; the seed shuffles the query order of every pass.

It exercises query construction and Spark joins, windows and the
LLM-data operators, with the cell folds built in memory. It never
calls the catalog, the seek path or the SDK client.

Each query's timed action is one aggregate over its full answer: the
row count plus a sum of per-row hashes, with floating-point columns
rounded to six significant digits first. That materialises every
output column (a bare ``count()`` may prune them) and gives an
order-independent fingerprint, compared with ``pins.json``. Every
query must return rows: an empty answer fails its check.
"""

from __future__ import annotations

import json
import random
import runpy
import shutil
import sys
import time
from contextlib import redirect_stdout

from perfbench import harness
from perfbench.metrics import QUERIES

PINS = harness.HERE / "pins.json"
# one document in DUP_EVERY gets a copy (see add_duplicates)
DUP_EVERY = 10


def corpus(spark, sf: float):
    """The generated ten-table corpus at ``sf``, built once per
    checkout by scripts/gen_sf.py (deterministic: every column is a
    hash of the row id), with duplicate documents added."""
    out = harness.WORK / "data" / f"gen-sf{sf}-dup{DUP_EVERY}"
    done = out / "_COMPLETE"
    if not done.exists():
        shutil.rmtree(out, ignore_errors=True)
        argv = sys.argv
        sys.argv = ["gen_sf.py", str(sf), str(out)]
        try:
            with redirect_stdout(sys.stderr):
                runpy.run_path(str(harness.ROOT / "scripts" / "gen_sf.py"), run_name="__main__")
        finally:
            sys.argv = argv
        add_duplicates(spark, str(out / "documents.parquet"))
        done.write_text("")
    return out


def add_duplicates(spark, path: str) -> None:
    """gen_sf.py copies about 0.2% of the documents, which leaves none
    at the benchmark's sizes, so the two dedup queries would time an
    empty grouping and join. Append a copy of one document in
    DUP_EVERY (chosen by a hash of its id): exact for an even id, and
    for an odd id with one word appended, a near-duplicate whose
    word-3-gram Jaccard stays far above the 0.5 threshold of
    dedup_lsh_verified."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(path)
    first_id = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    picked = docs.where(F.pmod(F.xxhash64("doc_id", F.lit(77)), F.lit(DUP_EVERY)) == 0)
    copies = picked.select(
        (F.col("doc_id") + first_id).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.concat("text", F.lit(" again"))).alias("text"),
        "lang",
        "source",
    ).withColumn("n_chars", F.length("text").cast("long"))
    # materialised first: the copies are appended to the path they are read from
    spark.createDataFrame(copies.select(*docs.columns).collect(), docs.schema) \
        .coalesce(1).write.mode("append").parquet(path)


def fingerprint(df) -> list:
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.format_string("%.6g", F.col(f"`{f.name}`"))
        if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return [int(row["n"]), str(row["h"] or 0)]


def write_pins(key: str, pins: dict) -> None:
    """Store ``pins`` under ``key``, one query per line."""
    everything = {**(json.loads(PINS.read_text()) if PINS.exists() else {}), key: pins}
    blocks = [
        f' "{k}": {{\n' + ",\n".join(f'  "{q}": {json.dumps(v)}' for q, v in sorted(d.items())) + "\n }"
        for k, d in sorted(everything.items())
    ]
    PINS.write_text("{\n" + ",\n".join(blocks) + "\n}\n")


def run(session, tracer, args, run_dir) -> harness.Outcome:
    import tera_spark.queries as Q

    out = harness.Outcome()
    spark = session.spark
    sf = 0.001 if args.tiny else 0.01
    t0 = time.perf_counter()
    data = str(corpus(spark, sf))
    gen_s = time.perf_counter() - t0

    # set-up: the registry plus opening every corpus table (file
    # listing and schema from the footers)
    t0 = time.perf_counter()
    Q.load_all()
    for table in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{data}/{table}.parquet")
    setup_s = session.start_s + time.perf_counter() - t0

    key = f"gen-sf{sf}-dup{DUP_EVERY}"
    pins = json.loads(PINS.read_text()).get(key, {}) if PINS.exists() else {}
    rng = random.Random(args.seed)
    total: dict[str, list[float]] = {q: [] for q in QUERIES}
    traced_q: dict[str, list[tuple]] = {q: [] for q in QUERIES}

    def run_query(name: str, record: bool) -> None:
        with out.op(f"query {name}"):
            t0 = time.perf_counter()
            with tracer.span(f"queries.construct.{name}") as c_span:
                df = Q.QUERIES[name](spark, data)
            t1 = time.perf_counter()
            with tracer.span(f"queries.execute.{name}") as e_span:
                fp = fingerprint(df)
            t2 = time.perf_counter()
            harness.require(fp[0] > 0, f"{name}: no rows")
            if args.repin:
                pins[name] = fp
            harness.require(fp == pins.get(name), f"{name}: fingerprint {fp} != pin {pins.get(name)}")
            if record:
                total[name].append(t2 - t0)
            if c_span is not None:
                traced_q[name].append((c_span, e_span))

    def one_pass(p: int) -> None:
        for name in rng.sample(QUERIES, len(QUERIES)):
            run_query(name, True)

    t0 = time.perf_counter()
    for name in QUERIES:  # cold: plan compile, Python workers, caches
        run_query(name, False)
    first_pass_s = time.perf_counter() - t0
    if args.repin:
        write_pins(key, pins)

    plain, traced, windows = harness.run_passes(
        tracer, args.seconds, one_pass, bool(args.trace), min_passes=2
    )
    walls = plain if plain else traced
    per_query = [harness.geomean(total[q]) for q in QUERIES]
    out.e2e = {
        "setup_s": setup_s,
        "pass_s": harness.median(walls),
        "op_geomean_ms": harness.geomean(per_query) * 1000,
    }
    out.detail = {"query_geomean_s": harness.geomean(per_query), "corpus_gen_s": gen_s,
                  "first_pass_s": first_pass_s, "passes": len(walls)}

    if args.trace:
        layers = harness.pass_layers(tracer, plain, traced, windows)
        layers["queries.first_pass_s"] = first_pass_s
        for q in QUERIES:
            pairs = traced_q[q]
            layers[f"queries.construct_s.{q}"] = harness.median([c["end"] - c["start"] for c, _ in pairs])
            layers[f"queries.execute_s.{q}"] = harness.median([e["end"] - e["start"] for _, e in pairs])
            layers[f"spark.shuffle_bytes.{q}"] = harness.median(
                [tracer.spark_total([c, e], "shuffle_bytes") for c, e in pairs]
            )
            layers[f"spark.parallelism.{q}"] = harness.median(
                [tracer.spark_total([c, e], "executor_run_s") / (e["end"] - c["start"]) for c, e in pairs]
            )
        out.layers = layers
    return out
