"""Shared machinery of the workloads: the Spark session's lifetime,
the box witness, summary statistics, and the tracer.

The tracer times calls into the library from the benchmark's side: it
wraps public functions of the engine's modules for the length of a
traced run, and gives every span its own Spark job group so that the
status store's stage metrics attribute to it.
"""

from __future__ import annotations

import functools
import json
import math
import os
import shlex
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
# fits four cores and 15 GB beside the Python side and the OS
DRIVER_MEM = "3g"


def prepare_env() -> None:
    """Size the session to this box and point every scratch path of
    Spark, the JVM and Python at the work directory. Must run before
    the JVM starts."""
    tmp, local = WORK / "tmp", WORK / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    py_path = [str(ROOT)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "TERA_SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(local),
            "TMPDIR": str(tmp),
            # Python workers unpickle the library's closures
            "PYTHONPATH": os.pathsep.join(py_path),
            # keep Spark's progress bar off the console so stdout parses
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.ui.showConsoleProgress=false",
                    "--conf",
                    shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
                    "pyspark-shell",
                ]
            ),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR


class Session:
    """The benchmark's one Spark session. ``start_s`` is the time from
    importing the library to the first finished job."""

    def __init__(self) -> None:
        t0 = time.perf_counter()
        from tera_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.range(1).count()
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self._jvm_proc = getattr(self.sc._gateway, "proc", None)

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of this Python process plus the
        driver JVM. Python workers are not counted."""
        pids = ["self"] + ([str(self._jvm_proc.pid)] if self._jvm_proc else [])
        kb = 0
        for pid in pids:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        return kb / 1024

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit; the JVM ends
        its Python workers as it stops."""
        try:
            self.spark.stop()
        finally:
            proc = self._jvm_proc
            if proc is not None and proc.poll() is None:
                proc.stdin.close()  # the gateway exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def git_commit() -> str | None:
    """HEAD of the checkout; None where it is not a repository (git is
    kept from finding one above it) or git is missing."""
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)}
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                           capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.SubprocessError):
        return None
    return p.stdout.strip() if p.returncode == 0 else None


def box_witness(load1_start: float) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("TERA_SPARK_DRIVER_MEM"),
        "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
        "load1_start": load1_start,
        "load1_end": os.getloadavg()[0],
        "commit": git_commit(),
    }


class CheckFailed(Exception):
    """An output of the engine differs from what the benchmark expects."""


class Outcome:
    """Counts of one run: every operation and every correctness check
    is attempted once, and fails if it raises or its check fails."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.detail: dict[str, float] = {}
        self.layers: dict[str, float] = {}

    @contextmanager
    def op(self, what: str):
        self.attempted += 1
        try:
            yield
        except Exception as e:  # one failed operation must not end the run
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(f"{what}: {e!r}"[:400])
            if not isinstance(e, CheckFailed):
                traceback.print_exc(file=sys.stderr)


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# --- statistics --------------------------------------------------------


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile, q in (0, 1]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(math.ceil(q * len(s)) - 1, 0))]


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


# --- tracing -----------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, request id) around calls into
    the library, kept in memory and written out at the end. While
    ``active`` is false nothing is recorded and no job group is set, so
    untraced passes run the library exactly as a user would."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._request: int | None = None
        self._patches: list[tuple] = []
        self._counted_stages: set[int] = set()

    def _set_group(self, rec: dict | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb-{rec['id']}" if rec else None)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self._request,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    @contextmanager
    def request(self, request_id: int):
        self._request = request_id
        try:
            yield
        finally:
            self._request = None

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class's method)
        in a span named ``name`` until ``unpatch``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def harvest(self, since: int = 0) -> None:
        """Attach status-store stage totals to every span from index
        ``since`` on. Each stage counts once, for the first span whose
        jobs ran it (a later job that reuses a shuffle skips it)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        for rec in self.spans[since:]:
            tot = dict(jobs=0, stages=0, tasks=0, executor_run_s=0.0, shuffle_bytes=0, spill_bytes=0)
            for job in tracker.getJobIdsForGroup(f"pb-{rec['id']}"):
                tot["jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    if sid in self._counted_stages:
                        continue
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    self._counted_stages.add(sid)
                    tot["stages"] += 1
                    tot["tasks"] += sd.numTasks()
                    tot["executor_run_s"] += sd.executorRunTime() / 1000
                    tot["shuffle_bytes"] += sd.shuffleWriteBytes()
                    tot["spill_bytes"] += sd.diskBytesSpilled()
            rec["spark"] = tot

    def subtree(self, rec: dict) -> list[dict]:
        """``rec`` and every span nested in it (spans are recorded in
        start order, so descendants follow their ancestor)."""
        ids, out = {rec["id"]}, [rec]
        for s in self.spans[rec["id"] + 1 :]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def spark_total(self, recs, key: str) -> float:
        return sum(s.get("spark", {}).get(key, 0) for r in recs for s in self.subtree(r))

    def durations(self, name: str, spans=None) -> list[float]:
        return [s["end"] - s["start"] for s in (spans or self.spans) if s["name"] == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def run_passes(tracer: Tracer, seconds: float, one_pass, traced: bool, min_passes: int = 3):
    """Closed loop: run ``one_pass(i)`` at least ``min_passes`` times
    (two in a traced run), then again while a pass as long as the
    median one so far still ends within ``seconds`` of the start, so a
    run's length follows ``seconds`` rather than the pass length. A
    traced run runs passes untraced, traced, traced, untraced, and so
    on, so that warming up over the run biases neither side and the
    difference of their medians is the tracing overhead. Returns
    (untraced walls, traced walls, [(first span index, end span index)
    of each traced pass])."""
    plain, traced_walls, windows = [], [], []
    t_end = time.perf_counter() + seconds
    i = 0
    while i < max(min_passes, 2 if traced else 1) or \
            time.perf_counter() + median(plain + traced_walls) <= t_end:
        is_traced = traced and i % 4 in (1, 2)
        tracer.active = is_traced
        first = len(tracer.spans)
        t0 = time.perf_counter()
        one_pass(i)
        wall = time.perf_counter() - t0
        tracer.active = False
        if is_traced:
            traced_walls.append(wall)
            windows.append((first, len(tracer.spans)))
            tracer.harvest(first)
        else:
            plain.append(wall)
        i += 1
    return plain, traced_walls, windows


def pass_layers(tracer: Tracer, plain, traced, windows) -> dict[str, float]:
    """Spark totals per traced pass and the tracing overhead."""
    n = max(len(windows), 1)
    tops = [s for a, b in windows for s in tracer.spans[a:b] if s["parent"] is None]
    out = {
        f"spark.{k}": tracer.spark_total(tops, k) / n
        for k in ("stages", "tasks", "executor_run_s", "shuffle_bytes", "spill_bytes")
    }
    out["trace.overhead_s"] = median(traced) - median(plain) if traced and plain else 0.0
    out["trace.spans_per_pass"] = sum(b - a for a, b in windows) / n
    return out
