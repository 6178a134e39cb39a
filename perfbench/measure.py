"""Measurement helpers: spans, Spark event-log rollups, process-tree RSS.

Spans are kept in memory and written once at exit (``Tracer.dump``); a
span's self time is its duration minus the part covered by its children.
The event-log reader rolls ``SparkListenerTaskEnd`` metrics up by job
group, which the batch workloads set to the query name.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default method)."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_q(n: int) -> float:
    """p90, or with fewer than 100 samples the highest quantile that keeps
    ten of ``n`` samples beyond it (never below the median): 2/3 for 30."""
    return max(0.5, min(0.9, 1.0 - 10.0 / n)) if n else 0.5


class Tracer:
    """In-memory span recorder.  Disabled tracers cost one branch per span."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                 "run_id": self.run_id, "start": time.perf_counter(), "end": None}
            )
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name (layer), in seconds."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_time_s": self.self_times()}, f)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident set size of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


class RssSampler:
    """Samples the process tree's RSS on a daemon thread; keeps the peak.
    Each sample reads a file per thread of every process in the tree (the
    JVM has over a hundred), so the period is long enough to keep the
    sampler from competing with the timed work for the GIL."""

    def __init__(self, period_s: float = 1.0) -> None:
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> list[int]:
    """Machine-wide CPU jiffies from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor withheld between two readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (Linux /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


_TASK_FIELDS = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "scheduler_delay_s",
                "input_records", "input_bytes")


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


def read_event_log(paths: list[str]) -> dict[str, dict[str, float]]:
    """Roll task metrics up by job group.

    Returns ``{group: {jobs, tasks, failed_tasks, executor_run_s, ...}}``;
    jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            g = out[group]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            if info.get("Failed"):
                g["failed_tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            g["executor_run_s"] += run_ms / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            im = m.get("Input Metrics") or {}
            g["input_records"] += im.get("Records Read", 0)
            g["input_bytes"] += im.get("Bytes Read", 0)
            wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            overhead_ms = (run_ms + m.get("Executor Deserialize Time", 0)
                           + m.get("Result Serialization Time", 0)
                           + info.get("Getting Result Time", 0))
            g["scheduler_delay_s"] += max(0, wall_ms - overhead_ms) / 1e3
    return {k: dict(v) for k, v in out.items()}


def find_event_logs(log_dir: str) -> list[str]:
    """The uncompressed event-log files Spark wrote under ``log_dir``: one
    plain file, or the ``events_<n>_<app>`` parts of a rolling log
    directory, in order."""
    found = []
    for root, _, files in os.walk(log_dir):
        for n in files:
            if n.startswith(".") or n.startswith("appstatus"):
                continue
            idx = int(n.split("_")[1]) if n.startswith("events_") else 0
            found.append((idx, os.path.join(root, n)))
    return [p for _, p in sorted(found)]
