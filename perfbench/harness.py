"""Shared run machinery: box fitting, private run directories, the Spark
session's lifetime, in-memory tracing, memory sampling and statistics.

Nothing here runs at import time; ``run.py`` drives it.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
import uuid
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
STATE = ROOT / ".perfbench_state"
CACHE = STATE / "cache"


def log(msg: str) -> None:
    """Human-readable detail goes to stderr; stdout carries only the
    summary lines and the final JSON result."""
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------- the box


@dataclass(frozen=True)
class Box:
    cpus: int
    driver_mem: str

    @property
    def master(self) -> str:
        return f"local[{self.cpus}]"


def fit_box() -> Box:
    """Size Spark to this machine: one local core per schedulable CPU and a
    driver heap of 1/8 of available memory, clamped to 1-4 GiB (the
    workloads are small; the rest is left to other tenants)."""
    cpus = len(os.sched_getaffinity(0))
    avail_kb = 4 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    mem_mb = min(4096, max(1024, avail_kb // 1024 // 8))
    return Box(cpus=cpus, driver_mem=f"{mem_mb}m")


# ---------------------------------------------------------- directories


class RunDir:
    """A private scratch directory for one run, deleted on close. Spark's
    local dirs, the JVM's and Python's temp files and the snapshot store
    all live under it, so concurrent runs never share a path."""

    def __init__(self, workload: str, seed: int) -> None:
        self.path = STATE / "runs" / f"{workload}-{seed}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        self.tmp = self.path / "tmp"
        self.spark_local = self.path / "spark-local"
        for d in (self.tmp, self.spark_local):
            d.mkdir(parents=True, exist_ok=True)

    def sub(self, name: str) -> str:
        return str(self.path / name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def cache_dir(kind: str, key: dict) -> Path:
    """Content-addressed cache entry under the checkout. Entries are built
    in a temp dir and renamed into place, so concurrent runs can race on
    the same key without seeing half-written data."""
    digest = hashlib.sha1(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
    return CACHE / f"{kind}-{digest}"


def publish(tmp: Path, final: Path) -> None:
    try:
        os.replace(tmp, final)
    except OSError:  # another run published the same key first
        shutil.rmtree(tmp, ignore_errors=True)


def cache_tmp(final: Path) -> Path:
    tmp = final.parent / f".{final.name}.{os.getpid()}.{uuid.uuid4().hex[:6]}"
    tmp.mkdir(parents=True)
    return tmp


# -------------------------------------------------------------- spark


def configure_env(box: Box, run: RunDir) -> None:
    """Environment the driver, the JVM and the Python workers inherit.
    Workers import ``crawler4j_spark`` inside pandas UDFs, so the checkout
    root must be on their path whatever directory the driver started in."""
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(box.cpus)
    os.environ["SPARK_DRIVER_MEM"] = box.driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = str(run.spark_local)
    os.environ["TMPDIR"] = str(run.tmp)
    import tempfile

    tempfile.tempdir = str(run.tmp)


def start_spark(box: Box, run: RunDir):
    """The engine's own session factory, sized to the box. Returns the
    session and its start-up time (JVM launch plus the factory's warm-up)."""
    from crawler4j_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=box.master, shuffle_partitions=box.cpus,
        extra_conf={
            "spark.driver.memory": box.driver_mem,
            "spark.local.dir": str(run.spark_local),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, close the gateway JVM and wait for every process
    this run started (JVM, Python worker daemon) to end."""
    from pyspark import SparkContext

    with contextlib.suppress(Exception):
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    _reap_descendants(timeout=20)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap_descendants(timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        live = descendants()
        for pid in live:  # collect zombies of direct children
            with contextlib.suppress(ChildProcessError, OSError):
                os.waitpid(pid, os.WNOHANG)
        if not descendants():
            return
        time.sleep(0.2)
    for pid in descendants():
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    for pid in descendants():
        with contextlib.suppress(ChildProcessError, OSError):
            os.waitpid(pid, 0)


# ------------------------------------------------------------ memory


class RssSampler:
    """Peak resident memory of the driver, its JVM and the Python workers,
    summed over the process tree from /proc (psutil is not available)."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        me = os.getpid()
        total = sum(self._rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        """End sampling; the peak then covers only what ran before."""
        if not self._stop.is_set():
            self.sample()
            self._stop.set()
            if self._thread.is_alive():
                self._thread.join(timeout=5)

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------------- tracing


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around calls into the program's layers. Disabled
    tracers record nothing and patch nothing, so untraced runs execute the
    program exactly as a user would."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned call (traced runs only);
        ``on_result(span, result)`` may record attributes of the result."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        self._undo.append((owner, attr, owner.__dict__.get(attr, _MISSING)
                           if hasattr(owner, "__dict__") else _MISSING))
        setattr(owner, attr, spanned)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            if old is _MISSING:
                with contextlib.suppress(AttributeError):
                    delattr(owner, attr)
            else:
                setattr(owner, attr, old)

    def select(self, name: str, since: float = float("-inf")) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= since]

    def total(self, name: str, since: float = float("-inf")) -> float:
        return sum(s.dur for s in self.select(name, since))

    def child_time(self, parent_name: str, child_name: str) -> float:
        ids = {i for i, s in enumerate(self.spans) if s.name == parent_name}
        return sum(s.dur for s in self.spans
                   if s.name == child_name and s.parent in ids)


_MISSING = object()


# ------------------------------------------------------- spark counters


class SparkJobs:
    """Stage and task counts of the Spark jobs run inside the measured
    window, read from the status tracker by job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.groups: list[str] = []

    def mark(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self.groups.append(group)

    def note_current(self) -> None:
        """Record the group the program set for itself (run_round names
        one group per round)."""
        g = self.sc.getLocalProperty("spark.jobGroup.id")
        if g and g not in self.groups:
            self.groups.append(g)

    def counts(self) -> dict[str, float]:
        tr = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for g in self.groups:
            for jid in tr.getJobIdsForGroup(g):
                info = tr.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tr.getStageInfo(sid)
                    if st is None:
                        continue
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"spark.jobs": jobs, "spark.stages": stages,
                "spark.tasks": tasks, "spark.failed_tasks": failed}


# Units of per-layer metrics, by name prefix or suffix; anything else is s.
_LAYER_UNITS = {
    "engine.phase_s.": "s", "engine.phase_jobs.": "count",
    "engine.round_jobs": "count", "engine.phase_cover_ratio": "ratio",
    "engine.new_ratio": "ratio", "engine.admit_ratio": "ratio",
    "tableio.commits": "count", "tableio.bytes_written": "bytes",
    "tableio.files_written": "count", "tableio.store_bytes_per_url": "B/url",
    "seen_filter.maybe_seen_ratio": "ratio", "seen_filter.bloom_fp_ratio": "ratio",
    "spark.": "count", "_rows_per_s": "1/s", "_us": "us",
}


def layer_unit(name: str) -> str:
    for key, unit in _LAYER_UNITS.items():
        if name.startswith(key) or name.endswith(key):
            return unit
    return "s"


# ---------------------------------------------------------- statistics


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. With ten or fewer samples no percentile qualifies
    and the maximum is reported as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], round(100.0 * (n - 10) / n, 1), n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


# ------------------------------------------------------------- outcome


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    mismatches: int = 0
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    info: dict[str, object] = field(default_factory=dict)

    def fail_rest(self, planned: int, done: int, what: str) -> None:
        """A raising op fails itself and every planned op after it; the
        run never retries."""
        log(f"{what} raised; counting {planned - done} unfinished op(s) as failed\n"
            + traceback.format_exc())
        self.failed += planned - done


def emit(out: Outcome, metric_names: list[str], trace: bool) -> dict:
    metrics = {}
    source = out.layers if trace else out.e2e
    for name in metric_names:
        value, unit = source[name]
        metrics[name] = {"value": float(value), "unit": unit}
    return {
        "correct": out.mismatches == 0 and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
