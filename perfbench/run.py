#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload cells --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric with --trace 0, every per-layer metric with
--trace 1). The line before it carries the workload's own figures, the
box witness and any failed check. Exits 2 without a result when the
library is not next to this directory.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import metrics  # noqa: E402


def main(argv=None) -> int:
    spec = metrics.spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    ap.add_argument("--repin", action="store_true",
                    help="analytics: record this run's fingerprints in pins.json")
    args = ap.parse_args(argv)
    load1_start = os.getloadavg()[0]

    if not (ROOT / "tera_spark" / "__init__.py").is_file():
        print(f"perfbench: no tera_spark package in {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    from perfbench import harness

    harness.prepare_env()
    run_dir = harness.WORK / f"run-{os.getpid()}"  # tables of this run only
    run_dir.mkdir(parents=True)
    workload = importlib.import_module(f"perfbench.{args.workload}")

    session = harness.Session()
    tracer = harness.Tracer(session.sc)
    try:
        out = workload.run(session, tracer, args, run_dir)
        out.detail["peak_rss_mb"] = session.peak_rss_mb()
    finally:
        tracer.unpatch()
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    trace_file = None
    if args.trace:
        trace_file = harness.WORK / f"trace-{args.workload}-{args.seed}.jsonl"
        tracer.write(trace_file)

    end_to_end = metrics.units(spec, "end_to_end")
    units = {**end_to_end, **metrics.DETAIL[args.workload]}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "end_to_end": {k: {"value": v, "unit": units.get(k, "")} for k, v in
                       {**out.e2e, **out.detail}.items()},
        "box": harness.box_witness(load1_start),
        "problems": out.problems,
        "trace_file": str(trace_file.relative_to(ROOT)) if trace_file else None,
    }
    print(json.dumps(detail))
    chosen = metrics.units(spec, "per_layer") if args.trace else end_to_end
    values = out.layers if args.trace else out.e2e
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in chosen.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
