"""Measurement helpers: the tail-percentile rule, spans with self time, the
Spark event-log fold and an outside RSS sampler. Stdlib only, so the
helpers are testable without a Spark session."""

from __future__ import annotations

import bisect
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = 10):
    """Highest sample that still has at least ``beyond`` samples strictly
    above it, with the percentile it stands at and the sample count.
    Returns ``(None, None, n)`` when there are too few samples."""
    s = sorted(values)
    n = len(s)
    for i in range(n - beyond - 1, -1, -1):
        if n - bisect.bisect_right(s, s[i]) >= beyond:
            return s[i], 100.0 * (i + 1) / n, n
    return None, None, n


# ---- spans ----------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float              # epoch seconds, comparable with the event log
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are written out once, at exit."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs, self.s = tracer, name, attrs, None

    def __enter__(self):
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.s = Span(len(t.spans), self.name, parent, time.time(),
                      attrs=self.attrs)
        t.spans.append(self.s)
        t._stack.append(self.s.id)
        return self.s

    def __exit__(self, *exc):
        self.s.end = time.time()
        self.t._stack.pop()
        return False


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c.start, s.start), min(c.end, s.end))
                 for c in kids.get(s.id, []) if c.end > s.start
                 and c.start < s.end]
        out[s.id] = s.duration - union_length(cover)
    return out


# ---- Spark event log ------------------------------------------------------

def _acc(accumulables, name) -> float:
    return sum(float(a.get("Value") or 0) for a in accumulables
               if a.get("Name") == name)


def fold_event_log(lines) -> dict[str, dict]:
    """Fold event-log JSON lines into totals per job description.

    Every job carries the ``spark.job.description`` that was set when it
    was submitted; its stages and tasks are charged to that description.
    Each entry holds counts, executor seconds, Python-boundary and shuffle
    bytes, and ``intervals``: the (start, end) epoch seconds of its jobs."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict] = {}

    def entry(desc):
        return out.setdefault(desc, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "python_bytes_sent": 0.0,
            "python_bytes_returned": 0.0, "shuffle_write_bytes": 0.0,
            "shuffle_read_bytes": 0.0, "spill_bytes": 0.0, "intervals": []})

    job_desc: dict[int, str] = {}
    job_start: dict[int, float] = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description", "")
            job_desc[e["Job ID"]] = desc
            job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
            for sid in e.get("Stage IDs", []):
                stage_desc[sid] = desc
            entry(desc)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_desc:
                entry(job_desc[jid])["intervals"].append(
                    (job_start[jid], e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            d = entry(stage_desc.get(si["Stage ID"], ""))
            d["stages"] += 1
            acc = si.get("Accumulables", [])
            d["python_bytes_sent"] += _acc(acc, "data sent to Python workers")
            d["python_bytes_returned"] += _acc(
                acc, "data returned from Python workers")
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            d = entry(stage_desc.get(e["Stage ID"], ""))
            d["tasks"] += 1
            d["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            d["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            d["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            d["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            d["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            d["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
    return out


def read_event_log(log_dir: str) -> list[str]:
    """All lines of every uncompressed event file under ``log_dir``."""
    lines = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            lines.extend(f)
    return lines


# ---- resident memory, sampled from outside --------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue  # the process ended between glob and open
        # the command name may contain spaces: fields after ')' are fixed
        pid = int(s[:s.index(" ")])
        ppid = int(s[s.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def tree_rss_mb(root: int) -> float:
    """Summed VmRSS of every descendant of ``root`` (not ``root`` itself):
    the Spark driver JVM and the Python workers it forks."""
    kids = _children()
    stack, kb = list(kids.get(root, [])), 0
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class RssSampler:
    """Background thread recording the peak of :func:`tree_rss_mb`."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
