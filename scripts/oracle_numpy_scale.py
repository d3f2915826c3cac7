"""DuckDB oracle run for the numpy brute-force kernel ABOVE its size
gate (VERDICT r9 item 9). The driver's oracle only ever exercises
`cosine_topk` at fixture scale, where the scale gate
(`plans.SCALE_GATE_BYTES`) keeps the Arrow/numpy kernel OFF — so the kernel's bit-parity claim rested on a
unit test. This script is the missing oracle row: a generated corpus
large enough to engage the kernel (same clustered-embedding formula as
scripts/gen_sf.py), the exact ann_cosine_topk query shape, and the
exact DuckDB oracle SQL, compared value-for-value.

Run: python scripts/oracle_numpy_scale.py [N_VECS]   (default 150_000)
"""

from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import duckdb
from pyspark.sql import functions as F

from tera_spark import plans
from tera_spark.operators.similarity import cosine_topk
from tera_spark.session import get_spark

_SQL_DOT = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "{a}[i]::double * {b}[i]::double), (x, y) -> x + y)"
)


def _sql_cos(a: str, b: str) -> str:
    dot = _SQL_DOT.format(a=a, b=b)
    na = _SQL_DOT.format(a=a, b=a)
    nb = _SQL_DOT.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def _u(col, salt: int, n):
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(n))


def main() -> None:
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    spark = get_spark("oracle_numpy_scale")
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/embeddings.parquet"
        lbl = _u(F.col("id"), 81, 10)
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (
                (_u(F.xxhash64(lbl, j), 82, 2001) - 1000) / F.lit(1000.0)
                + (_u(F.xxhash64(F.col("id"), j), 83, 2001) - 1000) / F.lit(3000.0)
            ).cast("float"),
        )
        spark.range(n_vecs).select(
            F.col("id").alias("vec_id"), vec.alias("embedding")
        ).coalesce(4).write.parquet(path)

        emb = spark.read.parquet(path)
        assert plans.scale_gate(emb), (
            f"corpus too small to engage the kernel: under "
            f"{plans.SCALE_GATE_BYTES} B — raise N_VECS"
        )
        topk = cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
        plan = topk._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan, "numpy kernel did not engage"
        t0 = time.time()
        got = sorted(map(tuple, topk.collect()))
        t_spark = time.time() - t0

        con = duckdb.connect()
        con.execute(f"create view embeddings as select * from '{path}/*.parquet'")
        t0 = time.time()
        want = sorted(
            map(
                tuple,
                con.execute(
                    f"""
            WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                       FROM embeddings WHERE vec_id < 10),
            sims AS (
              SELECT q.q_id, v.vec_id AS v_id,
                     round({_sql_cos('q.q_vec', 'v.embedding')}, 6) AS sim
              FROM embeddings v, q WHERE v.vec_id <> q.q_id
            ),
            ranked AS (
              SELECT q_id, v_id, sim,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY sim DESC, v_id) AS rank
              FROM sims
            )
            SELECT cast(q_id AS bigint) AS q_id, cast(v_id AS bigint) AS v_id,
                   sim, cast(rank AS bigint) AS rank
            FROM ranked WHERE rank <= 5
            """
                ).fetchall(),
            )
        )
        t_duck = time.time() - t0
        assert len(got) == len(want) == 50, (len(got), len(want))
        mism = [(g, w) for g, w in zip(got, want) if g != w]
        print(
            f"n_vecs={n_vecs} plan_bytes={bytes_est} kernel=numpy "
            f"rows={len(got)} mismatches={len(mism)} "
            f"spark={t_spark:.1f}s duckdb={t_duck:.1f}s"
        )
        if mism:
            for g, w in mism[:5]:
                print("  spark:", g, " oracle:", w)
            sys.exit(1)
        print("ORACLE PARITY OK — numpy kernel bit-matches DuckDB above the gate")


if __name__ == "__main__":
    main()
