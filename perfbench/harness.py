"""Shared machinery of the benchmark: the Spark session, the work and
cache directories, the memory sampler, Spark job counting and the span
tracer.  Nothing here knows about a particular workload."""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "file_dedup_rust_spark"
WORK = ROOT / ".perfbench"


@functools.cache
def source_key() -> str:
    """Hash of every file of the program and of the benchmark files that
    make inputs, taken once per process.  Cached inputs and pre-ingested
    stores live under this key, so a parent commit and a change never
    share state."""
    here = Path(__file__).resolve().parent
    h = hashlib.sha256()
    for p in [*sorted(PACKAGE.rglob("*.py")), here / "inputs.py", here / "batch.py"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def cached_dir(name: str, build) -> Path:
    """Directory `name` under the source-keyed cache, built by
    `build(tmp_dir)` on first use.  The rename makes a half-built entry
    invisible to later runs."""
    final = WORK / "cache" / source_key() / name
    if not final.exists():
        # entries of other program versions are dead weight
        for old in (WORK / "cache").glob("*"):
            if old != final.parent:
                shutil.rmtree(old, ignore_errors=True)
        tmp = final.parent / f".tmp-{name}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        build(tmp)
        os.replace(tmp, final)
    return final


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: Path) -> None:
    """Point the Python workers at the checkout and every temp file
    into the run directory (set before the JVM starts)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())


def start_session(run_dir: Path):
    from file_dedup_rust_spark.session import build_session

    tmp = run_dir / "tmp"
    spark = build_session(
        "perfbench",
        master=f"local[{cpu_count()}]",
        extra_conf={
            # the engine default (16g) exceeds small hosts' RAM
            "spark.driver.memory": "2g",
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    prctl PR_SET_CHILD_SUBREAPER), so a Spark worker whose JVM ends first
    is re-parented here and `end_descendants` can wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it launched and wait until it exits.
    `spark.stop()` alone leaves the JVM to notice its closed stdin after
    this process has gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            _end(proc)


def _end(proc, grace: float = 30.0) -> None:
    import subprocess

    try:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=grace)
    except (OSError, subprocess.TimeoutExpired):
        proc.terminate()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_descendants(grace: float = 20.0) -> None:
    """Wait for every process this one started, directly or not, to end
    (terminating what is left after `grace` seconds) and reap each."""
    import signal

    deadline = time.monotonic() + grace
    sig = None
    while True:
        _reap()
        live = _descendants()
        if not live:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in live:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def last_job_id(spark) -> int:
    """Highest job id in the status store.  Job ids are sequential, so
    the difference across a call counts the jobs it ran, including jobs
    of a streaming thread that a caller's job group does not reach."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    n = jobs.size()
    if n == 0:
        return -1
    return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId())


def cpu_seconds() -> float:
    """CPU time (user + system) of this process and all its descendants,
    live ones and the reaped children folded into their parents, read
    from /proc.  Unlike wall time, it does not grow with CPU stolen by
    other tenants of the host."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *_descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def _descendants() -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        parent[int(d)] = int(st[st.rindex(")") + 2 :].split()[1])
    out, frontier = [], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class RssSampler:
    """Peak resident memory of the descendants of this process (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for pid in _descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


class Tracer:
    """In-memory spans (name, start, end, parent, run id) recorded around
    calls into the program's layers.  Disabled, `span` only yields."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        """The span's duration minus the time its direct children cover
        (children of one span never overlap: the calls are serial)."""
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == span["id"])
        return span["end"] - span["start"] - kids

    def mean(self, name: str) -> float:
        """Mean self time of the spans called `name` (0 if none)."""
        xs = [self.self_time(s) for s in self.spans_named(name)]
        return sum(xs) / len(xs) if xs else 0.0

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median(xs) -> float:
    return float(statistics.median(xs))


def dir_bytes(path) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            total += os.path.getsize(os.path.join(dp, fn))
    return total
