"""Spans, the process-tree RSS sampler, Spark event-log counters and
percentiles.

Spans are recorded from the benchmark's own files, around its calls into the
program's public functions; they stay in memory and are written out when the
run ends. An untraced run uses ``Tracer(enabled=False)``, whose ``span`` does
nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Iterator


class Tracer:
    def __init__(self, enabled: bool, trace_id: str = "") -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs: Any) -> int:
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        span = {"id": len(self.spans), "trace": self.trace_id, "name": name,
                "start": start, "end": end, "parent": parent}
        span.update(attrs)
        self.spans.append(span)
        return span["id"]

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[int]:
        if not self.enabled:
            yield -1
            return
        sid = self.add(name, time.time(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def covered_layers(self) -> set[str]:
        return {s["name"].split(":", 1)[0] for s in self.spans}


def percentile(values: list[float], q: float,
               weights: list[float] | None = None) -> float:
    """Weighted nearest-rank percentile (q in [0, 100])."""
    if not values:
        return 0.0
    if weights is None:
        weights = [1.0] * len(values)
    pairs = sorted(zip(values, weights))
    total = sum(w for _, w in pairs)
    target = q / 100.0 * total
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= target - 1e-9:
            return v
    return pairs[-1][0]


def descendants(root_pid: int) -> list[tuple[int, str]]:
    """(pid, name) of every live descendant of ``root_pid``, from /proc."""
    children: dict[int, list[tuple[int, str]]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                head, tail = f.read().rsplit(")", 1)
        except (OSError, ValueError):
            continue  # the process ended between listing and reading
        children[int(tail.split()[1])].append((int(stat.split("/")[2]), head.split("(", 1)[1]))
    out, todo = [], [root_pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(pid for pid, _ in kids)
    return out


class MemorySampler:
    """Samples the proportional set size (PSS) summed over a process and all
    its descendants (the JVM and the Python workers) every ``interval_s`` and
    keeps the peak. PSS splits shared pages among the processes that map
    them, so forked workers, and a child the JVM forks to run a command, are
    not counted twice as they would be in an RSS sum."""

    def __init__(self, root_pid: int, interval_s: float = 0.2) -> None:
        self._root = root_pid
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)
        self.peak_bytes = 0
        self.peak_processes: dict[str, int] = {}  # "pid name" -> PSS bytes, at the peak

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: Any) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_pss(self) -> dict[str, int]:
        pss = {}
        for pid, name in [(self._root, "bench")] + descendants(self._root):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    kib = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue  # the process ended, or shows no memory
            pss[f"{pid} {name}"] = kib * 1024
        return pss

    def sample(self) -> None:
        pss = self._tree_pss()
        if sum(pss.values()) > self.peak_bytes:
            self.peak_bytes = sum(pss.values())
            self.peak_processes = pss

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)


# --- Spark event log -------------------------------------------------------

SPAN_PROPERTY = "perfbench.span"


@dataclass
class JobCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def busy_s(self) -> float:
        """Length of the union of the job intervals."""
        total, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(self.intervals):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


def event_log_counters(log_dir: str) -> dict[str, JobCounters]:
    """Engine counters per attribution key, from the newest uncompressed,
    non-rolling event log in ``log_dir``.

    A job's key is its ``perfbench.span`` local property when the bench set
    one, else its job group (a streaming query's run id)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if not files:
        return {}
    path = max(files, key=os.path.getmtime)
    job_key: dict[int, str] = {}
    stage_key: dict[int, str] = {}
    submitted: dict[int, float] = {}
    out: dict[str, JobCounters] = defaultdict(JobCounters)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                key = props.get(SPAN_PROPERTY) or props.get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_key[jid] = key
                submitted[jid] = ev["Submission Time"] / 1000.0
                c = out[key]
                c.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_key[sid] = key
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_key:
                    out[job_key[jid]].intervals.append(
                        (submitted[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_key:
                    out[stage_key[sid]].stages += 1
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if key is None or not m:
                    continue
                c = out[key]
                c.tasks += 1
                c.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                c.gc_s += m.get("JVM GC Time", 0) / 1000.0
                c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
    return dict(out)
