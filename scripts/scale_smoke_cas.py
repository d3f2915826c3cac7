#!/usr/bin/env python
"""Commit-CAS contention smoke: N OS processes each commit M batches
to ONE table through ``append_cas``, plain (a counter window only) vs
with ``rows`` (a row manifest too). Measures aggregate commit
throughput and verifies integrity afterward (every batch visible,
commit windows pairwise disjoint). ``storm`` mode instead races the
coordination arbiter's claim itself. Results land in SCALE.md.

Run standalone: `python scripts/scale_smoke_cas.py [n_procs] [batches]`,
or `python scripts/scale_smoke_cas.py [n_procs] [rounds] storm [--arbiter cas]`.
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
import textwrap
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

_RAW = sys.argv[1:]
ARBITER = "posix"
if "--arbiter" in _RAW:
    i = _RAW.index("--arbiter")
    ARBITER = _RAW[i + 1]
    _RAW = _RAW[:i] + _RAW[i + 2:]
_ARGS = [a for a in _RAW if a != "storm"]
STORM = "storm" in _RAW
N_PROCS = int(_ARGS[0]) if _ARGS else 4
BATCHES = int(_ARGS[1]) if len(_ARGS) > 1 else 6
ROWS_PER_BATCH = 50


def run_storm(n_procs: int, rounds: int) -> dict:
    """Takeover storm: ``n_procs`` OS processes race ONE expired slot
    per round through ``cat.arbiter.try_claim`` (the claim that guards
    the writer lease, the seq counter and the rollbacks list),
    barrier-released together. The arbiter must yield EXACTLY one
    winner per round, under arbitrary interleavings, with no leaked
    takeover temp files. No Spark.

    ``--arbiter cas`` runs the identical storm through CasArbiter with
    a socket-served conditional-put store (one linearization point
    shared by all child processes — the cloud-service shape); default
    is the POSIX hard-link arbiter on a shared tempdir."""
    import tempfile
    import textwrap

    mgr = cas_addr = None
    if ARBITER == "cas":
        from tera_spark.coordination import CasArbiter, connect_cas_store, serve_cas_store

        mgr, cas_addr = serve_cas_store()
    try:
        with tempfile.TemporaryDirectory(prefix="cas_storm_") as root:
            d = Path(root) / "slots"
            d.mkdir()
            sync = Path(root) / "sync"
            sync.mkdir()
            dead = json.dumps({"holder": "dead-writer", "expires": 0.0})
            if ARBITER == "cas":
                seed_store = connect_cas_store(cas_addr)
                for k in range(rounds):
                    assert seed_store.put_if(str(d / f"slot-{k}.lock"), dead, None)
            else:
                for k in range(rounds):
                    (d / f"slot-{k}.lock").write_text(dead)
            arb_setup = (
                ""
                if ARBITER != "cas"
                else f"""
            from tera_spark.coordination import CasArbiter, connect_cas_store
            arbiter = CasArbiter(connect_cas_store({tuple(cas_addr)!r}))
            """
            )
            child = textwrap.dedent(
                f"""
            import sys, time
            from pathlib import Path
            sys.path.insert(0, {_REPO!r})
            from tera_spark.catalog import Catalog
            arbiter = None{arb_setup}
            wid = sys.argv[1]
            cat = Catalog(None, {root!r}, writer_id=wid, arbiter=arbiter)
            sync = Path({root!r}) / "sync"
            slots = Path({str(d)!r})
            wins = 0
            for k in range({rounds}):
                (sync / f"ready-{{k}}-{{wid}}").touch()
                while not (sync / f"go-{{k}}").exists():
                    pass
                if cat.arbiter.try_claim(slots / f"slot-{{k}}.lock", wid, 60.0):
                    wins += 1
            print("WINS", wins, flush=True)
            """
            )
            procs = [
                subprocess.Popen(
                    [sys.executable, "-c", child, f"w{i}"],
                    stdout=subprocess.PIPE,
                    stderr=subprocess.STDOUT,
                    text=True,
                )
                for i in range(n_procs)
            ]
            t0 = time.perf_counter()
            try:
                for k in range(rounds):
                    # round 0 pays n_procs concurrent interpreter+pyspark
                    # imports; scale the deadline with the fleet
                    deadline = time.time() + (60 + 5 * n_procs if k == 0 else 60)
                    while (
                        sum(
                            (Path(root) / "sync" / f"ready-{k}-w{i}").exists()
                            for i in range(n_procs)
                        )
                        < n_procs
                    ):
                        for p in procs:
                            if p.poll() not in (None, 0):
                                out = p.communicate()[0]
                                raise RuntimeError(
                                    f"storm child died before ready:\n{out[-2000:]}"
                                )
                        assert time.time() < deadline, "storm children never ready"
                    (Path(root) / "sync" / f"go-{k}").touch()
            except BaseException:
                # the go-file barrier is a busy-wait: children MUST die
                # with the parent or they spin at 100% CPU forever
                for p in procs:
                    p.kill()
                raise
            outs = [p.communicate(timeout=300)[0] for p in procs]
            wall = time.perf_counter() - t0
            for p, out in zip(procs, outs):
                if p.returncode != 0:
                    raise RuntimeError(f"storm child failed:\n{out[-2000:]}")
            wins = sum(int(o.split("WINS")[1].split()[0]) for o in outs)
            # integrity: one winner per round, slot survives with a live
            # holder (read through the arbiter's state — the winner's
            # record is the current generation)
            if ARBITER == "cas":
                arb = CasArbiter(connect_cas_store(cas_addr))
            else:
                from tera_spark.coordination import PosixLinkArbiter

                arb = PosixLinkArbiter()
            leaked = list(d.glob("*.dead-*")) + list(d.glob("*.w-*"))
            holders_ok = True
            for k in range(rounds):
                st = arb.state(d / f"slot-{k}.lock")
                rec = None if st is None else st[1]
                if (
                    rec is None
                    or rec["holder"] == "dead-writer"
                    or rec["expires"] <= time.time()
                ):
                    holders_ok = False
                    break
            return {
                "mode": "takeover_storm",
                "arbiter": ARBITER,
                "n_procs": n_procs,
                "rounds": rounds,
                "total_wins": wins,
                "single_winner_every_round": wins == rounds,
                "surviving_claims_live": holders_ok,
                "leaked_temp_files": len(leaked),
                "wall_s": round(wall, 2),
            }
    finally:
        if mgr is not None:
            mgr.shutdown()


def _child_cores() -> int:
    """Keep the writer fleet inside the box: 16 children x local[4]
    oversubscribes 32 cores 2x and the measurement becomes CPU thrash
    (both modes choke and the ranking becomes accidental
    time-slicing). Coordination is what this smoke measures."""
    import os

    return max(1, min(4, (os.cpu_count() or 8) // N_PROCS))


def _child_src(root: str, table: str, wid: str, mode: str) -> str:
    return textwrap.dedent(
        f"""
        import sys, time
        sys.path.insert(0, {_REPO!r})
        from pyspark.sql import SparkSession
        from tera_spark.catalog import Catalog
        from tera_spark.operators.mutation import MutationBatch

        spark = (
            SparkSession.builder.master("local[{_child_cores()}]")
            .config("spark.sql.shuffle.partitions", "{_child_cores()}")
            .config("spark.ui.enabled", "false")
            .appName("cas-smoke-{{}}".format({wid!r}))
            .getOrCreate()
        )
        cat = Catalog(spark, {root!r}, writer_id={wid!r})
        t0 = time.perf_counter()
        for i in range({BATCHES}):
            b = MutationBatch()
            for r in range({ROWS_PER_BATCH}):
                b.put(f"{wid}-{{i}}-{{r}}", "d", "q", "v", ts=1)
            if {mode!r} == "disjoint":
                cat.append_cas({table!r}, b, rows=b.row_keys)
            else:
                cat.append_cas({table!r}, b)
        print("ELAPSED", time.perf_counter() - t0, flush=True)
        """
    )


def run_mode(spark, mode: str) -> dict:
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    with tempfile.TemporaryDirectory(prefix=f"cas_smoke_{mode}_") as root:
        cat = Catalog(spark, root, writer_id="setup")
        cat.create_table("t { d }")
        cat.append_cas("t", MutationBatch().put("seed", "d", "q", "v", ts=1))

        procs = [
            subprocess.Popen(
                [sys.executable, "-c", _child_src(root, "t", f"w{i}", mode)],
                stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT,
                text=True,
            )
            for i in range(N_PROCS)
        ]
        t0 = time.perf_counter()
        outs = [p.communicate(timeout=1200)[0] for p in procs]
        wall = time.perf_counter() - t0
        for p, out in zip(procs, outs):
            if p.returncode != 0:
                raise RuntimeError(f"{mode} child failed:\n{out[-2000:]}")

        # integrity: every row visible, windows pairwise disjoint
        n_expect = 1 + N_PROCS * BATCHES * ROWS_PER_BATCH
        n_vis = cat.view("t").count()
        recs = []
        for pth in (Path(root) / "t" / "commits").glob("*.json"):
            r = json.loads(pth.read_text())
            recs.append((r.get("lo", r["seq"]), r["seq"]))
        recs.sort()
        disjoint = all(h1 < l2 for (_, h1), (l2, _) in zip(recs, recs[1:]))
        total_batches = N_PROCS * BATCHES
        return {
            "mode": mode,
            "wall_s": round(wall, 2),
            "commits_per_s": round(total_batches / wall, 2),
            "rows_visible_ok": n_vis == n_expect,
            "windows_disjoint": disjoint,
            "n_commit_records": len(recs),
        }


def main() -> None:
    if STORM:
        rounds = BATCHES if len(_ARGS) > 1 else 40
        print(json.dumps(run_storm(N_PROCS, rounds)))
        return
    from tera_spark.session import get_spark

    spark = get_spark("cas_smoke")
    out = {
        "n_procs": N_PROCS,
        "batches_per_proc": BATCHES,
        "rows_per_batch": ROWS_PER_BATCH,
    }
    for mode in ("plain", "disjoint"):
        out[mode] = run_mode(spark, mode)
    out["speedup_disjoint_vs_plain"] = round(
        out["plain"]["wall_s"] / out["disjoint"]["wall_s"], 2
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
