#!/usr/bin/env python
"""Run the slow test suite (``pytest -m slow``) and write its status as
one JSON file: passed / failed / skipped counts, wall duration, the ids
of failing tests, CPUs and load1 at start and end.

The default test run deselects the slow tests (pytest.ini), so this
file is the committed record of how they fare.

    python scripts/slow_suite.py --out SLOWSUITE_r11.json [-- extra pytest args]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
import xml.etree.ElementTree as ET
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="JSON file to write")
    ap.add_argument("pytest_args", nargs="*", help="extra pytest arguments, after --")
    args = ap.parse_args()

    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    load_start = os.getloadavg()[0]
    with tempfile.TemporaryDirectory(prefix="slow_suite_") as tmp:
        junit = Path(tmp) / "junit.xml"
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/", "-m", "slow", "-q",
             "-p", "no:cacheprovider", f"--junitxml={junit}", *args.pytest_args],
            cwd=_REPO, env=env,
        )
        duration = time.time() - t0
        cases = ET.parse(junit).getroot().iter("testcase") if junit.exists() else ()
        status = {"passed": 0, "failed": 0, "skipped": 0}
        failing = []
        for case in cases:
            tid = f"{case.get('classname', '').replace('.', '/')}.py::{case.get('name')}"
            if case.find("failure") is not None or case.find("error") is not None:
                status["failed"] += 1
                failing.append(tid)
            elif case.find("skipped") is not None:
                status["skipped"] += 1
            else:
                status["passed"] += 1
    out = {
        "command": "pytest tests/ -m slow",
        **status,
        "duration_s": round(duration, 1),
        "failing": sorted(failing),
        "pytest_exit": proc.returncode,
        "cpus": int(env["SPARK_GRAFT_CPUS"]),
        "load1_start": round(load_start, 2),
        "load1_end": round(os.getloadavg()[0], 2),
    }
    Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
