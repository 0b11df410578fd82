"""Outside-in probes: process-tree CPU/RSS, per-job-group stage metrics,
streaming progress, call timers and a per-op deadline.

Nothing here imports or patches library internals except the call
timers, which wrap a module attribute for the duration of a traced pass
and restore it afterwards.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
from typing import Callable, Dict, List

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------------
# process tree
# --------------------------------------------------------------------------


def _pss(pid: int, rss: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers and their daemon count once across the tree, not once per
    process. Falls back to RSS where the kernel has no smaps_rollup."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def _stat(pid: int):
    """(ppid, cpu_seconds, rss_bytes) of one process, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name may contain spaces/parens: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    cpu = (int(fields[11]) + int(fields[12])) / _CLK  # utime + stime
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss


def descendants(root: int) -> List[int]:
    """Every live descendant of ``root``. PySpark workers are forked by the
    daemon, so they are grandchildren of the JVM: walk the whole table."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class ProcTree:
    """Samples CPU-seconds and resident memory (as PSS) of the driver
    Python process, the JVM and every JVM descendant (the Python worker
    daemon and its forks).

    CPU is kept per pid as the last value seen, so a worker that exits
    between samples keeps the CPU it had at its last sample.
    """

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        self.jvm_pid = jvm_pid
        self.driver_pid = os.getpid()
        self.interval = interval
        self._cpu: Dict[int, float] = {}  # pid -> last seen cpu seconds
        self._kind: Dict[int, str] = {}  # pid -> driver | jvm | worker
        self._peak_rss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcTree":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        pids = [(self.driver_pid, "driver"), (self.jvm_pid, "jvm")]
        pids += [(p, "worker") for p in descendants(self.jvm_pid)]
        rss = 0
        seen = {}
        for pid, kind in pids:
            st = _stat(pid)
            if st is None:
                continue
            seen[pid] = (kind, st[1])
            rss += _pss(pid, st[2])
        with self._lock:
            for pid, (kind, cpu) in seen.items():
                self._kind[pid] = kind
                self._cpu[pid] = max(cpu, self._cpu.get(pid, 0.0))
            self._peak_rss = max(self._peak_rss, rss)

    def snapshot(self) -> Dict[str, float]:
        """Cumulative CPU-seconds by process kind, after a fresh sample."""
        self.sample()
        with self._lock:
            out = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
            for pid, cpu in self._cpu.items():
                out[self._kind[pid]] += cpu
            return out

    def reset_peak(self) -> None:
        with self._lock:
            self._peak_rss = 0
        self.sample()

    def peak_rss_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak_rss / 2**20


def cpu_delta(a: Dict[str, float], b: Dict[str, float]) -> Dict[str, float]:
    return {k: b[k] - a[k] for k in a}


# --------------------------------------------------------------------------
# Spark job groups -> stage metrics
# --------------------------------------------------------------------------


def group_metrics(spark, group: str) -> Dict[str, float]:
    """Jobs, tasks and stage totals of every job run under ``group``.

    Goes statusTracker job ids -> stage ids -> the status store's last
    stage attempt (works with the UI disabled). Skipped stages carry no
    work and are left out.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    m = dict(jobs=float(len(jobs)), tasks=0.0, run_s=0.0, cpu_s=0.0,
             gc_s=0.0, shuffle_mb=0.0, spill_mb=0.0)
    for s in stage_ids:
        try:
            sd = store.lastStageAttempt(s)
        except Exception:  # evicted or never submitted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        m["tasks"] += sd.numTasks()
        m["run_s"] += sd.executorRunTime() / 1e3
        m["cpu_s"] += sd.executorCpuTime() / 1e9
        m["gc_s"] += sd.jvmGcTime() / 1e3
        m["shuffle_mb"] += sd.shuffleWriteBytes() / 2**20
        m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
    return m


def add_metrics(total: Dict[str, float], part: Dict[str, float]) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0.0) + v


# --------------------------------------------------------------------------
# streaming progress
# --------------------------------------------------------------------------

_PHASES = {
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
    "get_batch_ms": "getBatch",
    "latest_offset_ms": "latestOffset",
}


def trigger_latencies_ms(progress: List[dict]) -> List[float]:
    return [float(p["durationMs"].get("triggerExecution", 0)) for p in progress]


def input_rows(progress: List[dict]) -> int:
    return sum(int(p.get("numInputRows", 0)) for p in progress)


def progress_metrics(progress: List[dict]) -> Dict[str, float]:
    """Median ``durationMs`` phases over the query's micro-batches, its
    final state-store size and its processed rows per trigger second."""
    out = {}
    for name, phase in _PHASES.items():
        vals = [float(p["durationMs"].get(phase, 0)) for p in progress]
        out[name] = statistics.median(vals) if vals else 0.0
    last = progress[-1].get("stateOperators", []) if progress else []
    out["state_rows"] = float(sum(op.get("numRowsTotal", 0) for op in last))
    out["state_mem_mb"] = sum(op.get("memoryUsedBytes", 0) for op in last) / 2**20
    trig_s = sum(trigger_latencies_ms(progress)) / 1e3
    out["rows_per_s"] = input_rows(progress) / trig_s if trig_s else 0.0
    return out


# --------------------------------------------------------------------------
# call timers and deadlines
# --------------------------------------------------------------------------


class CallTimer:
    """Accumulated wall time of calls into one module-level function."""

    def __init__(self):
        self.seconds = 0.0
        self.calls = 0

    def wrap(self, fn: Callable) -> Callable:
        def timed(*a, **kw):
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.seconds += time.perf_counter() - t
                self.calls += 1

        return timed


@contextlib.contextmanager
def timed_attr(module, name: str):
    """Time every call to ``module.name`` while the block runs. Callers
    that look the attribute up at call time (function-local imports
    included) go through the timer."""
    timer = CallTimer()
    orig = getattr(module, name)
    setattr(module, name, timer.wrap(orig))
    try:
        yield timer
    finally:
        setattr(module, name, orig)


class OpFailed(Exception):
    """An op raised, missed its deadline or failed its output check.
    ``wedged`` means a helper thread is still stuck after the cancel."""

    def __init__(self, msg: str, wedged: bool = False):
        super().__init__(msg)
        self.wedged = wedged


def run_with_deadline(spark, group: str, fn: Callable, deadline_s: float):
    """Run ``fn()`` on a helper thread under Spark job group ``group``.

    Returns its result. Raises :class:`OpFailed` if it raises or does not
    finish within ``deadline_s``; on a miss the group's jobs are cancelled
    so the run can go on. If the thread is still stuck after the cancel,
    the session is wedged and the caller should stop issuing work.
    """
    box: Dict[str, object] = {}
    sc = spark.sparkContext

    def body():
        try:
            sc.setJobGroup(group, group, interruptOnCancel=True)
            box["value"] = fn()
        except Exception as e:  # noqa: BLE001 - reported to the caller
            box["error"] = e

    th = threading.Thread(target=body, name=f"op-{group}", daemon=True)
    th.start()
    th.join(max(deadline_s, 0.0))
    if th.is_alive():
        sc.cancelJobGroup(group)
        th.join(10)
        raise OpFailed(
            f"{group}: no result within {deadline_s:.0f}s", wedged=th.is_alive()
        )
    if "error" in box:
        err = box["error"]
        raise OpFailed(f"{group}: {type(err).__name__}: {str(err)[:300]}")
    return box.get("value")


def quantile(values: List[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)
