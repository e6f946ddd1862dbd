"""Shared plumbing for the workloads: environment, tracing, progress
collection, process-tree memory sampling and percentiles.

Everything here observes the system from outside: spans wrap calls into
the package's public functions, streaming progress arrives through a
``StreamingQueryListener`` and memory is read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".bench_work"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def children_by_parent() -> dict[int, list[int]]:
    """Every live process (zombies included) keyed by its parent pid."""
    children = defaultdict(list)
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split(" ", 2)[1])
        children[ppid].append(int(entry.name))
    return children


def adopt_orphans() -> None:
    """Become the reaper of every descendant whose parent exits before it
    (Linux PR_SET_CHILD_SUBREAPER): the Python workers the JVM forks, for
    one, then stay children of this process and ``stop_descendants`` can
    wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_descendants(grace_s: float = 15.0) -> list[int]:
    """End every process this one started and wait until each has ended.

    The JVM exits when its stdin closes, and takes its workers with it;
    whatever is still running after ``grace_s`` gets SIGTERM, and SIGKILL
    five seconds later.  Returns the pids that had to be signalled."""
    import signal

    gateway = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        try:
            gateway.proc.stdin.close()
        except OSError:
            pass
    signalled: list[int] = []
    start = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = children_by_parent().get(os.getpid(), [])
        if not kids:
            return signalled
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGKILL if waited > grace_s + 5 else signal.SIGTERM
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                if pid not in signalled:
                    signalled.append(pid)
        time.sleep(0.05)


def prepare_env(work: Path) -> None:
    """Environment for this process, the JVM it launches and the Python
    workers the JVM forks; must run before the first Spark session.

    Workers import ``kafka_connect_sse_spark`` (UDFs, the SSE data source
    reader), so the checkout root goes on PYTHONPATH whatever the current
    directory is.  Temporary files of all three stay inside ``work``."""
    sys.path.insert(0, str(ROOT))
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + ([old] if old else []))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Span:
    __slots__ = ("name", "start", "end", "parent", "attrs")

    def __init__(self, name: str, parent: int | None, attrs: dict):
        self.name, self.parent, self.attrs = name, parent, attrs
        self.start = time.perf_counter()
        self.end = self.start

    @property
    def elapsed(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every wrapped call; keeps the spans only when enabled.

    Spans stay in memory (name, start, end, parent index, attributes) and
    are written out once, by ``dump``, after the run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, attrs)
        if self.enabled:
            self._stack.append(len(self.spans))
            self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": i, "name": s.name, "parent": s.parent,
                     "start_s": s.start - t0, "end_s": s.end - t0, **s.attrs}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )

    def span_cost_s(self) -> float:
        """Bookkeeping cost of this run's spans, from timing the same
        number of empty spans on a throwaway tracer."""
        n = max(len(self.spans), 1)
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return time.perf_counter() - t0


def progress_listener():
    """A StreamingQueryListener that keeps every progress report, keyed by
    query id, and lets callers wait on cumulative input rows.  (The
    query's own ``recentProgress`` keeps only the last 100.)"""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            super().__init__()
            self.by_query: dict[str, list[dict]] = defaultdict(list)
            self.cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self.cond:
                self.by_query[p["id"]].append(p)
                self.cond.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def rows(self, qid: str) -> int:
            with self.cond:
                return sum(p["numInputRows"] for p in self.by_query[qid])

        def wait_rows(self, qid: str, n: int, timeout: float) -> bool:
            deadline = time.monotonic() + timeout
            with self.cond:
                while sum(p["numInputRows"] for p in self.by_query[qid]) < n:
                    left = deadline - time.monotonic()
                    if left <= 0:
                        return False
                    self.cond.wait(left)
            return True

        def progress(self, qid: str) -> list[dict]:
            with self.cond:
                return list(self.by_query[qid])

    return ProgressLog()


def start_spark(tracer: Tracer):
    """Session start and operator registration, each in its own span."""
    from kafka_connect_sse_spark import registry
    from kafka_connect_sse_spark.session import get_spark

    with tracer.span("session.get_spark") as s1:
        spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("registry.load_all") as s2:
        registry.load_all()
    return spark, s1.elapsed, s2.elapsed


class MemoryPeak:
    """Samples the memory of this process and all its descendants (the JVM
    and the Python workers it forks), leaving out the trees rooted at
    ``exclude`` (the load generator).

    Each process counts its proportional set size: resident pages, with a
    page shared by n processes counted 1/n in each.  Summed resident sizes
    would count the JVM again for every short-lived child it forks."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def _sample(self) -> int:
        children = children_by_parent()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += self._pss(pid)
            todo.extend(children.get(pid, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._sample())

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def pct(values, q: float) -> float:
    """q-th percentile (linear interpolation); 0.0 for an empty sample."""
    return float(np.percentile(values, q)) if len(values) else 0.0


def gen_fixture(sf: float, seed: int, out: Path) -> None:
    """Generate a seeded fixture with the repository's generator CLI."""
    cmd = [sys.executable, str(ROOT / "tools" / "gen_fixture.py"),
           "--sf", repr(sf), "--seed", str(seed), "--out", str(out)]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)


def import_tool(name: str):
    """Import a module from the repository's tools/ directory."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        f"perfbench_tool_{name}", ROOT / "tools" / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
