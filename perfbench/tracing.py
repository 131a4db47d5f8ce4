"""Measurement plumbing: in-memory spans, Spark job groups, the event
log summary, the engine processes' RSS and the environment stamp.

Spans are recorded by the benchmark around its own calls into the
engine's public functions; nothing inside the package is instrumented.
"""
from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Span:
    id: int
    parent: int | None
    trace: int            # workload iteration the span belongs to
    name: str
    t0: float
    t1: float = 0.0
    group: str | None = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


@dataclass
class Tracer:
    """Spans kept in memory.  When ``enabled`` is false ``span`` only
    times the block, so timed and traced runs share one code path."""
    enabled: bool
    sc: object = None
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    _next: int = 0

    @contextmanager
    def span(self, name: str, trace: int = -1, group: bool = False):
        """Time a block; with ``group``, its Spark jobs get their own
        job group so the status tracker and event log can count them."""
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, parent.id if parent else None,
                 parent.trace if parent else trace, name, time.perf_counter())
        if self.enabled and group and self.sc is not None:
            s.group = f"{name}#{s.id}"
            self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if s.group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            if self.enabled:
                self.spans.append(s)

    def durations(self, name: str) -> list:
        return [s.dur for s in self.spans if s.name == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        if not d:
            raise KeyError(f"no span named {name!r}")
        return float(np.median(d))

    def self_time(self, s: Span) -> float:
        """Duration minus the part its child spans cover."""
        kids = sorted((c.t0, c.t1) for c in self.spans if c.parent == s.id)
        covered, end = 0.0, s.t0
        for a, b in kids:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return s.dur - covered

    def jobs_in_group(self, s: Span) -> int:
        if s.group is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(s.group))


# -- process-tree memory -----------------------------------------------

def _children() -> dict:
    kids: dict = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        kids.setdefault(int(parts[1]), []).append(pid)
    return kids


def tree_pids(root: int) -> list:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of the engine's processes — the Spark JVM and its
    Python workers, every descendant of this process — sampled on a
    thread every 0.1 s while ``active`` is set.  This process, which
    also holds the generator's arrays and the oracles, is left out."""

    def __init__(self):
        self.peak = 0
        self.peak_by_kind: dict = {}     # "jvm" / "python": that kind's own peak
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            if self.active.is_set():
                self.sample()
            self._stop.wait(0.1)

    def sample(self) -> None:
        me = os.getpid()
        by_kind: dict = {}
        for p in tree_pids(me):
            if p != me:
                kind = "jvm" if _comm(p) == "java" else "python"
                by_kind[kind] = by_kind.get(kind, 0) + rss_bytes(p)
        self.peak = max(self.peak, sum(by_kind.values()))
        for k, v in by_kind.items():
            self.peak_by_kind[k] = max(self.peak_by_kind.get(k, 0), v)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark event log ---------------------------------------------------

def event_log_summary(log_dir: str, groups: set) -> dict:
    """Shuffle bytes, GC share and task skew (slowest / median task of
    the stage with the most task time) over the jobs whose job group is
    in ``groups``, read from the Spark event log, plus each stage's
    figures."""
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(f) and "events_" in os.path.basename(f))
    stage_of_job: dict = {}
    job_group: dict = {}
    tasks: dict = {}           # stage -> list of (duration_ms, gc_ms, run_ms, shuffle_w)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job_group[ev["Job ID"]] = props.get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_of_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    sw = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    tasks.setdefault(ev["Stage ID"], []).append(
                        (dur, m.get("JVM GC Time", 0),
                         m.get("Executor Run Time", 0), sw))
    mine = {sid: t for sid, t in tasks.items()
            if job_group.get(stage_of_job.get(sid)) in groups}
    def skew(t):
        d = [x[0] for x in t]
        return max(d) / max(float(np.median(d)), 1.0)

    stages = [{"stage": sid, "job_group": job_group.get(stage_of_job.get(sid)),
               "tasks": len(t), "task_ms": sum(x[0] for x in t),
               "gc_ms": sum(x[1] for x in t), "shuffle_bytes": sum(x[3] for x in t),
               "skew": skew(t)} for sid, t in sorted(mine.items())]
    run = sum(x[2] for t in mine.values() for x in t)
    heavy = max(stages, key=lambda st: st["task_ms"]) if stages else None
    return {"shuffle_bytes": sum(st["shuffle_bytes"] for st in stages),
            "gc_share": sum(st["gc_ms"] for st in stages) / run if run else 0.0,
            "task_skew": heavy["skew"] if heavy else 1.0, "stages": stages}


# -- environment stamp -------------------------------------------------

def loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes, best of three: how fast
    the host runs at the moment, so that a run on a slowed host shows in
    its own record."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        best = min(best, time.perf_counter() - t)
    return best


def cpu_times() -> list:
    """The host's cumulative CPU times from /proc/stat (user nice system
    idle iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant: the driver, the Spark JVM and its Python workers.  A
    child that exits moves its time into its parent's cutime/cstime, so
    differences between two readings keep it.  Time the hypervisor gave
    to other guests is not in it."""
    total = 0
    for p in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])   # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def steal_share(t0: list, t1: list) -> float:
    """Share of CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def host_state() -> dict:
    return {"loadavg": loadavg(), "host_probe_s": host_probe_s()}


def env_stamp(seed: int, nproc: int) -> dict:
    import pyarrow
    import pyspark
    return {"nproc": nproc, "seed": seed, "before": host_state(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM")}
