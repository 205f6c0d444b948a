"""Meters read from outside the engine: /proc process-tree CPU and RSS,
and per-call deltas of Spark's status stores.

Nothing here is imported by ``esda_spark``; every number is taken
around a call into a public function of one engine module.
"""

from __future__ import annotations

import os
import re
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_NCPU = os.cpu_count() or 1

# every per-layer field, in the order they are reported
FIELDS = (
    "wall_s", "cpu_s", "driver_cpu_s", "jobs", "tasks", "shuffle_bytes",
    "result_bytes", "py_in_bytes", "py_out_bytes", "py_s", "py_start_s",
    "gc_s", "spill_bytes",
)
UNITS = {
    "wall_s": "s", "cpu_s": "s", "driver_cpu_s": "s", "jobs": "count",
    "tasks": "count", "shuffle_bytes": "B", "result_bytes": "B",
    "py_in_bytes": "B", "py_out_bytes": "B", "py_s": "s",
    "py_start_s": "s", "gc_s": "s", "spill_bytes": "B",
}


# --- /proc process tree -------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM and Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including reaped children."""
    total = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS every 0.1 s on a thread; read
    ``peak_mb`` after the ``with`` block."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            if self._stop.wait(0.1):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs: on
    a shared host it explains a pass that is slow for no reason of its own."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def own_time() -> float:
    """``perf_counter`` less the CPU time per CPU that the hypervisor gave
    to other guests.  Differences of this clock estimate how long a step
    would have taken had no CPU been stolen, as if stealing hit every CPU
    alike; on a shared host they follow the program, not its neighbours."""
    return time.perf_counter() - steal_s() / _NCPU


# --- Spark status stores --------------------------------------------------------

_SQL_FIELDS = {
    "data sent to Python workers": "py_in_bytes",
    "data returned from Python workers": "py_out_bytes",
    "time to run Python workers": "py_s",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_start_s",
}
_SCALE = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")
_SQL_METRIC = re.compile(
    r"SQLPlanMetric\((" + "|".join(map(re.escape, _SQL_FIELDS)) + r"),(\d+),")
_INT = re.compile(r"\d+")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric (``"total (...)\\n3.0 MiB (...)"``
    or a single-task ``"250 ms"``), in bytes or seconds."""
    m = _VALUE.search(text.split("\n")[-1])
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1)) * _SCALE[m.group(2)]


class StatusStore:
    """Diffs the application and SQL status stores by job, stage and
    execution id (job groups miss jobs started on operator threads)."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int, int]:
        """Newest job id, newest execution id and the execution count."""
        self._bus.waitUntilEmpty()
        jobs = self._app.jobsList(None)  # newest first
        job = jobs.apply(0).jobId() if jobs.size() else -1
        n = int(self._sql.executionsCount())
        exe = self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return job, exe, n

    def delta(self, mark: tuple[int, int, int]) -> dict[str, float]:
        """Counters of every job and SQL execution started after ``mark``."""
        self._bus.waitUntilEmpty()
        job0, exe0, n0 = mark
        out = dict.fromkeys(FIELDS[3:], 0.0)
        stages = set()
        jobs = self._app.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= job0:
                break
            out["jobs"] += 1
            stages.update(int(v) for v in _INT.findall(job.stageIds().toString()))
        for sid in stages:
            st = self._app.lastStageAttempt(sid)
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["result_bytes"] += st.resultSize()
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["spill_bytes"] += st.diskBytesSpilled()
        for eid, metrics in self._executions_since(exe0, n0):
            # a plan has hundreds of metrics: match the few wanted ones in
            # one string instead of two py4j calls per metric
            accs = {int(acc): _SQL_FIELDS[name]
                    for name, acc in _SQL_METRIC.findall(metrics.toString())}
            values = self._sql.executionMetrics(eid)
            for acc, field in accs.items():
                v = values.get(acc)
                if v.isDefined():
                    out[field] += parse_sql_metric(v.get())
        return out

    def _executions_since(self, exe0: int, n0: int):
        """(id, metrics) of the executions after id ``exe0``; ``n0`` was the
        count then, so only the tail of the list is fetched unless old
        executions were dropped from the store meanwhile."""
        n = int(self._sql.executionsCount())
        first = max(n0 - 1, 0)
        execs = self._sql.executionsList(first, n - first)  # oldest first
        if first and execs.size() and execs.apply(0).executionId() > exe0:
            execs = self._sql.executionsList(0, n)
        for i in range(execs.size()):
            ex = execs.apply(i)
            if ex.executionId() > exe0:
                yield ex.executionId(), ex.metrics()


# --- layer spans ------------------------------------------------------------------

class Layers:
    """Runs calls into engine modules; when tracing, records one span per
    call with wall, CPU and status-store deltas."""

    def __init__(self, spark, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self.parent = None
        self._store = StatusStore(spark) if traced else None
        self._pid = os.getpid()

    def call(self, module: str, name: str, fn):
        if not self.traced:
            return fn()
        mark = self._store.mark()
        cpu0, dcpu0 = tree_cpu_s(self._pid), time.process_time()
        t0 = own_time()
        out = fn()
        wall = own_time() - t0
        span = {
            "module": module, "name": f"{module}.{name}",
            "parent": self.parent, "start": t0, "wall_s": wall,
            "cpu_s": tree_cpu_s(self._pid) - cpu0,
            "driver_cpu_s": time.process_time() - dcpu0,
        }
        span.update(self._store.delta(mark))
        self.spans.append(span)
        return out

    def by_module(self, parent) -> dict[str, dict[str, float]]:
        """Per-module sums of the spans under ``parent``."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["parent"] == parent:
                acc = out.setdefault(s["module"], dict.fromkeys(FIELDS, 0.0))
                for f in FIELDS:
                    acc[f] += s[f]
        return out
