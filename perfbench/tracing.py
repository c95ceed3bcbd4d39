"""Tracing for the benchmark: in-memory spans, Spark event-log
counters and small statistics helpers.

Spans are recorded around the benchmark's own calls into the program
(name, start, end, parent, operation id) and written out as JSON when
the run ends. Counters come from the Spark event log, which the traced
run turns on through ``get_spark(extra_conf=...)`` with compression
off so the log is plain JSON lines.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import threading
import time


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return float(s[k])


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float]:
    """The highest of p50/p90/p99/p99.9 that has at least
    ``min_beyond`` samples above it, as (percentile, value)."""
    best = (50.0, percentile(values, 50))
    for q in (90.0, 99.0, 99.9):
        if len(values) * (1 - q / 100.0) >= min_beyond:
            best = (q, percentile(values, q))
    return best


def geomean(values) -> float:
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


class SpanRecorder:
    """Spans kept in memory. ``span`` is a context manager; spans
    opened inside another span on the same thread record it as their
    parent. Thread-safe: foreachBatch handlers run on a callback
    thread, not the benchmark's main thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


_EMPTY = {
    "jobs": 0,
    "stages": 0,
    "tasks": 0,
    "executor_run_ms": 0,
    "executor_cpu_ms": 0.0,
    "gc_ms": 0,
    "shuffle_write_bytes": 0,
    "shuffle_read_bytes": 0,
    "spill_bytes": 0,
    "input_bytes": 0,
}


def _event_lines(log_dir: str):
    """Every JSON record of every event log under ``log_dir``. Spark 4
    writes rolling ``eventlog_v2_*`` directories of ``events_<n>_*``
    files; older layouts write one file per application."""
    paths = [
        os.path.join(root, fn)
        for root, _dirs, files in os.walk(log_dir)
        for fn in files
        if not fn.startswith("appstatus")
    ]

    def order(p):
        parts = os.path.basename(p).split("_")
        return (os.path.dirname(p), int(parts[1]) if parts[0] == "events" else 0)

    for p in sorted(paths, key=order):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        # the last line of a live log can be cut mid-write
                        continue


def job_counters(log_dir: str, key_fn) -> dict[str, dict]:
    """Aggregate the event log per job key.

    ``key_fn(properties) -> str | None`` maps a job's local properties
    (``spark.jobGroup.id``, ``spark.job.description``, ...) to the key
    its counters are credited to; jobs mapped to None are ignored.
    Reads ``SparkListenerJobStart`` (job -> stages), ``TaskEnd`` (run
    time, CPU time, GC, shuffle, spill, input bytes) and
    ``StageCompleted`` (stages that actually ran)."""
    stage_key: dict[int, str] = {}
    out: dict[str, dict] = {}
    completed: set[tuple[int, int]] = set()
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = key_fn(ev.get("Properties") or {})
            if key is None:
                continue
            acc = out.setdefault(key, dict(_EMPTY))
            acc["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_key[sid] = key
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            sid = info.get("Stage ID")
            key = stage_key.get(sid)
            if key is not None and (sid, info.get("Stage Attempt ID", 0)) not in completed:
                completed.add((sid, info.get("Stage Attempt ID", 0)))
                out[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev.get("Stage ID"))
            if key is None:
                continue
            acc = out[key]
            acc["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            acc["executor_run_ms"] += m.get("Executor Run Time", 0)
            acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return out


def _proc_cpu_ticks(pid: int) -> tuple[int, int]:
    """(parent pid, utime+stime+cutime+cstime) of a live process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_seconds() -> float:
    """CPU seconds used by this process and every live descendant,
    including descendants they have reaped.
    CPU time excludes time the host steals from the guest."""
    ticks: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ticks[int(name)] = _proc_cpu_ticks(int(name))
            except (OSError, IndexError, ValueError):
                continue  # exited between listdir and open
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t) in ticks.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in ticks:
            total += ticks[pid][1]
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")

