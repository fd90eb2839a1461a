"""Shared machinery of the workload processes: the box-fit witness, the
span tracer, job-group counts, event-log parsing and host meters.

Nothing here reaches into the engine: spans wrap the benchmark's own
calls into the engine's public functions, job counts come from Spark's
``statusTracker`` per job group, and executor time/shuffle/spill come
from Spark's event log (enabled only in traced runs).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


# -- statistics ---------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


# -- host meters --------------------------------------------------------------


def proc_stat() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    total = b[1] - a[1]
    return 100.0 * (b[0] - a[0]) / total if total > 0 else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


# -- box-fit witness ----------------------------------------------------------


def box_fit() -> tuple[int, str]:
    """Cores and driver heap for this box, handed to the engine through
    its own ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` settings.
    k is half of ``nproc``: the other half is left to the JVM's JIT
    compiler and GC threads, the Python driver, its client threads and
    Python workers. On 4 cores, under load from other tenants, k = 2 was
    faster than k = 4 in 9 of 10 fresh-JVM pairs (serve and ingest), and
    on ingest its run-to-run spread was less than half as wide. The heap
    is 3 GB capped at a quarter of physical RAM (Python workers, page
    cache and the JVM's off-heap need the rest). Both are fixed by the
    box, not inherited from the caller's environment, so every run
    measures the same configuration."""
    k = max(1, (os.cpu_count() or 1) // 2)
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    return k, f"{min(3072, max(1024, mem_mb // 4))}m"


def witness(spark, k: int) -> dict:
    sc = spark.sparkContext
    w = {
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "java_version": sc._jvm.System.getProperty("java.version"),
        "nproc": os.cpu_count(),
        "k": k,
    }
    if w["default_parallelism"] != k or k > (os.cpu_count() or 1):
        raise RuntimeError(f"box-fit witness failed: {w}")
    return w


def jit_settle(spark, cap_s: float = 6.0, quiet_ms: float = 10.0) -> float:
    """Wait until the JVM's JIT compiler is idle: its cumulative
    compilation time grew by less than ``quiet_ms`` over the last half
    second, or ``cap_s`` passed. Warm-up queues many methods for C2; a
    timed part that starts while they compile competes with the
    compiler threads for the cores. Returns the seconds waited."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = time.perf_counter()
    last = bean.getTotalCompilationTime()
    while time.perf_counter() - t0 < cap_s:
        time.sleep(0.5)
        now = bean.getTotalCompilationTime()
        if now - last < quiet_ms:
            break
        last = now
    return time.perf_counter() - t0


# -- spans --------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    group: str | None


@dataclass
class Tracer:
    """In-memory spans, written out once at exit. Disabled, ``span`` is a
    bare ``yield`` so the untraced run pays nothing but the call.

    A span opened with ``group=True`` also tags the Spark jobs submitted
    from its thread with a job group named after the span, so job, stage
    and task counts can be attributed to it afterwards.

    ``self_s`` sums the time spent in the tracer's own bookkeeping (the
    job-group calls into the JVM included), in every thread: the time
    tracing adds to the traced operations."""

    sc: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    self_s: float = 0.0

    def reset(self) -> None:
        """Forget the spans and the bookkeeping time so far (the warm-up's)."""
        with self._lock:
            self.spans.clear()
            self.self_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, group: bool = False):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        gid = f"{name}#{sid}" if group else None
        prev_group = None
        if gid:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(gid, name)
        parent = stack[-1] if stack else None
        if op is None and stack:
            op = self._local.op
        self._local.op = op
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if gid:
                if prev_group:
                    self.sc.setJobGroup(prev_group, prev_group)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op, gid))
                self.self_s += (start - t_in) + (time.perf_counter() - end)

    def durations_ms(self, name: str) -> list[float]:
        return [1000.0 * (s.end - s.start) for s in self.spans if s.name == name]

    def groups(self, name: str) -> list[str]:
        return [s.group for s in self.spans if s.name == name and s.group]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__) + "\n")


# -- job-group counts and the event log ----------------------------------------


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran and tasks completed for one job group
    (``statusTracker``; skipped stages count as not run)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def event_log(log_dir: str) -> tuple[dict[str, dict[str, float]], int]:
    """From Spark's JSON event log: per job group, executor run ms, JVM
    CPU ms, shuffle bytes written and spilled bytes; and the number of
    tasks that did not succeed."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    failed = 0
    paths = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(log_dir) for f in fs if not f.startswith(".")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        if g:
                            stage_group.setdefault(sid, g)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    failed += (ev.get("Task End Reason") or {}).get("Reason") != "Success"
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    acc = out.setdefault(g, {"run_ms": 0.0, "cpu_ms": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0})
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out, failed


def keyed_table_bytes(table) -> tuple[int, int]:
    """(bytes on disk under a KeyedTable's root, bytes of its live
    snapshot: the bucket directories the current manifest maps)."""
    disk, _ = dir_bytes(table.path)
    v = table.current_version()
    if v < 0:
        return disk, 0
    with open(os.path.join(table.path, "_manifests", f"v={v}.json")) as fh:
        manifest = json.load(fh)
    live = sum(dir_bytes(os.path.join(table.path, p))[0] for p in manifest.values())
    return disk, live
