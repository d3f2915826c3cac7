"""``cells``: the cell store's own paths in one session, closed loop.

Every pass runs one round of SDK client traffic on a bulk-loaded table
(``sdk_mixed.Traffic``: YCSB-B seek gets beside puts, increments and a
CAS, and one short scan) and then folds a mixed op history and a
put-only table (``cell_fold.Folds``). After the passes the reference
checks run and the mixed history is compacted and folded once more.

Together they cover the client, the mutation and commit path, the
seek and scan paths, the catalog, and the fold and compaction; the
analytics queries are the other workload.
"""

from __future__ import annotations

import time
from pathlib import Path

from perfbench import harness
from perfbench.cell_fold import Folds
from perfbench.sdk_mixed import Traffic


def run(session, tracer, args, run_dir: Path) -> harness.Outcome:
    out = harness.Outcome()
    folds = Folds(session, tracer, args, run_dir / "fold", out)
    traffic = Traffic(session, tracer, args, run_dir / "sdk", out)
    setup_s = session.start_s + folds.setup_s + traffic.setup_s
    if args.trace:
        traffic.patch()

    def one_pass(p: int) -> None:
        traffic.one_pass(p >= 0)
        folds.one_pass(p >= 0)

    one_pass(-1)  # warm-up: plan compile, footer caches, a CAS that must miss
    t_run = time.perf_counter()
    plain, traced, windows = harness.run_passes(tracer, args.seconds, one_pass, bool(args.trace))
    run_s = time.perf_counter() - t_run
    folds.finish()

    walls = plain if plain else traced
    # every kind a pass times, each weighed once
    kinds = {**traffic.lat, **folds.lat}
    out.e2e = {
        "setup_s": setup_s,
        "pass_s": harness.median(walls),
        "op_geomean_ms": 1000 * harness.geomean([harness.geomean(v) for v in kinds.values()]),
    }
    out.detail = {
        **traffic.figures(run_s),
        **folds.figures(),
        "passes": len(walls),
    }
    if args.trace:
        spans = [s for a, b in windows for s in tracer.spans[a:b]]
        out.layers = {
            **harness.pass_layers(tracer, plain, traced, windows),
            **traffic.layers(spans),
            **folds.layers(spans),
        }
    return out
