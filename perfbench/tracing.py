"""Measurement plumbing: spans, the Spark event log, and a memory sampler.

* ``Tracer`` keeps spans (name, start, end, parent) in memory and writes
  them out once at the end. Entering a span also sets the Spark job
  description to the span's path, so every job a span submits can be
  mapped back to it through the event log.
* ``spark_metrics`` folds the uncompressed event log into the engine-level
  counters of the jobs under one span path.
* ``NetTimer`` times a block in wall seconds, and net of the share of its
  runnable CPU time the hypervisor gave to other guests.
* ``RssSampler`` tracks the peak summed resident memory of this process and
  all its descendants (the JVM and the Python worker tree), read from
  ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    path: str
    start: float
    end: float = 0.0
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; each span labels the Spark jobs of ``sc``
    that it submits."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"{parent.path}/{name}" if parent else name,
                 time.perf_counter(), parent=parent.path if parent else None,
                 attrs=attrs)
        self._stack.append(s)
        self._label(s.path)
        return s

    def close(self) -> Span:
        s = self._stack.pop()
        s.end = time.perf_counter()
        self.spans.append(s)
        self._label(self._stack[-1].path if self._stack else None)
        return s

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close()

    def _label(self, path: str | None) -> None:
        self.sc.setJobDescription(path)

    def named(self, prefix: str) -> list[Span]:
        """Closed spans whose name is ``prefix`` or starts with ``prefix-``."""
        return [s for s in self.spans
                if s.name == prefix or s.name.startswith(prefix + "-")]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([{"name": s.name, "path": s.path, "parent": s.parent,
                        "start": s.start, "end": s.end, "attrs": s.attrs}
                       for s in sorted(self.spans, key=lambda s: s.start)],
                      f, indent=1)


# -- Spark event log -------------------------------------------------------------

@dataclass
class EventLog:
    job_desc: dict[int, str] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    binary_scan_stages: set[int] = field(default_factory=set)
    tasks: list[dict] = field(default_factory=list)

    def jobs_under(self, prefix: str) -> set[int]:
        return {j for j, d in self.job_desc.items()
                if d == prefix or d.startswith(prefix + "/")}

    def tasks_under(self, prefix: str) -> list[dict]:
        jobs = self.jobs_under(prefix)
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]


def read_event_log(log_dir: str) -> EventLog:
    """Parse the one uncompressed event log file in ``log_dir``."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    ev = EventLog()
    with open(os.path.join(log_dir, name), encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ev.job_desc[e["Job ID"]] = props.get("spark.job.description") or ""
                for sid in e["Stage IDs"]:
                    ev.stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                if any("Scan binaryFile" in (r.get("Scope") or "")
                       for r in info.get("RDD Info", [])):
                    ev.binary_scan_stages.add(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                ev.tasks.append({
                    "stage": e["Stage ID"],
                    "failed": e["Task End Reason"]["Reason"] != "Success",
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)),
                    "peak_mem": m.get("Peak Execution Memory", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "records_read": (m.get("Input Metrics") or {})
                    .get("Records Read", 0),
                })
    return ev


def spark_metrics(ev: EventLog, prefix: str) -> dict[str, float]:
    """Engine counters over every task of the jobs labelled ``prefix``."""
    ts = ev.tasks_under(prefix)
    return {
        "spark.tasks": len(ts),
        "spark.failed_tasks": sum(t["failed"] for t in ts),
        "spark.task_run_s": sum(t["run_ms"] for t in ts) / 1e3,
        "spark.task_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
        "spark.spill_bytes": sum(t["spill"] for t in ts),
        "spark.peak_exec_mem_mb": max((t["peak_mem"] for t in ts), default=0) / 2**20,
    }


# -- stolen CPU time --------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """``(served, stolen)`` CPU ticks of this machine so far, summed over its
    CPUs: time its CPUs ran code, and time they had code to run but the
    hypervisor gave the physical CPU to other guests (``steal`` in
    /proc/stat). An idle CPU accrues neither."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


class NetTimer:
    """Wall time of a block, and the same wall time net of stolen CPU time:
    wall × served / (served + stolen) over the block. Steal only accrues
    on CPUs that have work, so this is the share of the block's runnable
    CPU time that the host actually served, whether the block keeps one
    CPU busy or all of them. Slowdowns that show no steal (contended
    caches, memory or disks) stay in both figures."""

    def __init__(self):
        self.wall = self.net = self.stolen_s = 0.0

    def __enter__(self) -> NetTimer:
        self._t0, self._c0 = time.perf_counter(), cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        served, stolen = (b - a for a, b in zip(self._c0, cpu_ticks()))
        self.stolen_s = stolen / _TICK
        self.net = self.wall * served / (served + stolen) if served + stolen else self.wall


# -- resident memory -------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass  # the process exited between listing and reading
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def alive(pid: int) -> bool:
    """The process exists and is not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_rss(root: int) -> int:
    """Summed resident bytes of ``root`` and every descendant."""
    return sum(_rss(pid) for pid in [root, *descendants(root)])


class RssSampler:
    """Background thread recording the peak ``tree_rss`` of this process,
    sampled every ``INTERVAL_S``."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(me))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
