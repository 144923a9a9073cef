"""Spans, counters and Spark's own accounting for the traced run.

Spans are kept in memory and written when the run ends. Each span has
an id, a name, a parent, start and end (epoch ms) and free-form
attributes; one id per run, tick or query. Jobs and tasks come from
Spark's event log after the session stops, and are attributed to the
span whose interval contains their submission or launch time; that
is exact here because the benchmark is a closed loop that runs one
step at a time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Span recorder. Disabled tracers still hand out ids, so the
    untraced run keeps the same control flow but records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.probe_s = 0.0
        self._next_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {"id": sid, "name": name, "parent": parent if parent is not None else self.current(), **attrs}
        stack = self._stack()
        stack.append(sid)
        rec["start"] = now_ms()
        rec["py4j_start"] = self.py4j_calls
        try:
            yield rec
        finally:
            rec["end"] = now_ms()
            rec["py4j_calls"] = self.py4j_calls - rec.pop("py4j_start")
            stack.pop()
            if self.enabled:
                with self._lock:
                    self.spans.append(rec)

    def record(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> dict:
        """Add a span whose interval was measured elsewhere (a streaming
        tick, from its progress report)."""
        with self._lock:
            self._next_id += 1
            rec = {"id": self._next_id, "name": name, "parent": parent, "start": start, "end": end, **attrs}
            if self.enabled:
                self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def probe(self):
        """Time trace-only work, so its share of the run can be reported."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.probe_s += time.perf_counter() - t0

    def count_py4j(self, spark) -> None:
        """Count py4j round trips by wrapping the gateway client."""
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            with tracer._lock:
                tracer.py4j_calls += 1
            return orig(*args, **kwargs)

        client.send_command = send_command


# ----- Spark event log ------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs and tasks from the (single) application log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"submit": ev["Submission Time"], "end": None}
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "launch": info["Launch Time"],
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return {"jobs": [j for j in jobs.values() if j["end"] is not None], "tasks": tasks}


def spark_usage(log: dict, start: float, end: float) -> dict:
    """Jobs and task totals whose submit/launch time is in [start, end]."""
    jobs = [j for j in log["jobs"] if start <= j["submit"] <= end]
    tasks = [t for t in log["tasks"] if start <= t["launch"] <= end]
    busy = 0.0
    last = start
    for j in sorted(jobs, key=lambda j: j["submit"]):
        s, e = max(j["submit"], last), min(j["end"], end)
        if e > s:
            busy += e - s
            last = e
    mb = 1024.0 * 1024.0
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "job_busy_s": busy / 1000.0,
        "task_s": sum(t["run_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / mb,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / mb,
        "spill_mb": sum(t["spill"] for t in tasks) / mb,
    }


# ----- processes and machine ------------------------------------------------


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        for c in tree.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Summed VmHWM of ``pids`` (the driver JVM and the PySpark workers)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def machine_sample() -> dict:
    """loadavg and /proc/stat jiffies (steal included), as bench.py records."""
    s: dict = {"unix_time": round(time.time(), 1)}
    s["loadavg_1m"], s["loadavg_5m"], s["loadavg_15m"] = os.getloadavg()
    with open("/proc/stat") as f:
        parts = f.readline().split()
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    s["cpu_jiffies"] = {k: int(v) for k, v in zip(names, parts[1:9])}
    return s
