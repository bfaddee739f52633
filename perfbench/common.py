"""Shared plumbing: session lifecycle, spans, memory sampling, stats."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def cpu_count() -> int:
    """CPUs this process may run on (the session is sized from this)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def configure_env(cpus: int) -> None:
    """Environment read by ``session.get_spark`` and by Spark itself.

    Every path Spark, the JVM and Python write to is kept inside the
    checkout's work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "pyspark-shell"
    )
    # Python workers import the engine package from the checkout.
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def start_session(cpus: int):
    """Stop any running session and start a fresh one on ``cpus`` cores
    through the engine's ``get_spark``. Returns (spark, seconds)."""
    from pyspark.sql import SparkSession

    from travelpulse_spark_stream_tourism_analytics_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); 0.0 for no samples."""
    values = sorted(values)
    if not values:
        return 0.0
    k = max(0, min(len(values) - 1, int(round(q / 100.0 * len(values) + 0.5)) - 1))
    return float(values[k])


class Spans:
    """In-memory spans (name, start, end, parent, id); written at the end.

    When disabled, ``span`` is a no-op context manager, so the untraced
    run pays only a function call per boundary."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, ident: str = ""):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        rec = {"name": name, "id": ident, "parent": parent,
               "start": time.time(), "end": None}
        with self._lock:
            self.records.append(rec)
            rec["seq"] = len(self.records) - 1
        stack.append(rec["seq"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records
                   if r["name"] == name and r["end"] is not None)

    def count(self, name: str) -> int:
        return sum(1 for r in self.records if r["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for r in self.records:
                fh.write(json.dumps(r) + "\n")


def _tree_rss_kb(root_pid: int) -> int:
    """Summed resident set (kB) of ``root_pid`` and its descendants.

    A child whose memory size and resident set equal its parent's shares
    the parent's address space (a JVM helper between ``vfork`` and
    ``exec``); it is skipped so the JVM is not counted twice."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        parent[int(entry)] = int(stat[stat.rfind(")") + 2:].split()[1])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    statm: dict[int, tuple[int, int]] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                size, resident = fh.read().split()[:2]
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        statm[pid] = (int(size), int(resident))
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    return sum(resident * page_kb for pid, (size, resident) in statm.items()
               if pid == root_pid or statm.get(parent[pid]) != (size, resident))


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root_pid`` (default: this process) and its descendants."""
    root_pid = root_pid or os.getpid()
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        stats[int(entry)] = stat[stat.rfind(")") + 2:].split()
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Peak resident memory of the benchmark's process tree: the driver
    Python, the JVM and its Python workers, as the highest summed
    resident set seen by a background poller."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
