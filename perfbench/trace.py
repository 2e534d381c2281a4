"""The traced run's instruments: spans around calls into each layer's
public functions, installed from here by wrapping them, and Spark job,
stage and task metrics read back from the session's event log.

A span records its total time, its self time (total minus the spans
nested inside it on the same thread) and its call count. A function
re-entered while its span is open (recursion, or a kernel calling a
sibling reported under the same name) is counted once, at the
outermost call. Spans named in `intervals` also keep their (start,
end) wall-clock intervals so Spark jobs can be attributed to them by
submission time.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import shutil
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, intervals: tuple[str, ...] = ()):
        self._lock = threading.Lock()
        self._local = threading.local()
        self._keep = set(intervals)
        self.total: dict[str, float] = defaultdict(float)
        self.self_time: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.gauges: dict[str, float] = {}

    def _call(self, name, fn, args, kwargs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if any(frame[0] == name for frame in stack):
            return fn(*args, **kwargs)
        frame = [name, 0.0]
        stack.append(frame)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            stack.pop()
            dur = t1 - t0
            if stack:
                stack[-1][1] += dur
            with self._lock:
                self.total[name] += dur
                self.self_time[name] += dur - frame[1]
                self.calls[name] += 1
                if name in self._keep:
                    self.intervals[name].append((t0, t1))

    def wrapper(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self._call(name, fn, args, kwargs)

        return traced

    def wrap_method(self, cls, attr: str, name: str) -> None:
        setattr(cls, attr, self.wrapper(name, getattr(cls, attr)))

    def wrap_function(self, module: str, attr: str, name: str) -> None:
        """Wrap a module-level function and every alias of it that an
        already-imported `mldb_spark` module or the gate entry holds
        (`from mldb_spark.dedup import connected_components` binds the
        original at import time)."""
        orig = getattr(importlib.import_module(module), attr)
        traced = self.wrapper(name, orig)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (
                mod_name.startswith("mldb_spark") or mod_name == "__spark_entry__"
            ):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)

    def gauge_max(self, name: str, value: float) -> None:
        with self._lock:
            self.gauges[name] = max(self.gauges.get(name, value), value)

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "total": dict(self.total),
                "self": dict(self.self_time),
                "calls": dict(self.calls),
                "intervals": {k: list(v) for k, v in self.intervals.items()},
                "gauges": dict(self.gauges),
            }


def diff(after: dict, before: dict) -> dict:
    """Span totals accumulated between two snapshots."""
    out = {}
    for key in ("total", "self", "calls"):
        out[key] = {
            k: v - before.get(key, {}).get(k, 0) for k, v in after.get(key, {}).items()
        }
    out["intervals"] = {
        k: v[len(before.get("intervals", {}).get(k, [])) :]
        for k, v in after.get("intervals", {}).items()
    }
    out["gauges"] = after.get("gauges", {})
    return out


# -- Spark event log -----------------------------------------------------------


def take_event_log(log_dir: str) -> list[dict]:
    """Events of the one finished application logged under `log_dir`;
    the directory is removed once read."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        events = [json.loads(line) for line in f if line.strip()]
    shutil.rmtree(log_dir)
    return events


def _inside(ms: int, windows: list[tuple[float, float]]) -> bool:
    # event times are whole milliseconds of the same wall clock
    return any(int(a * 1000) <= ms <= int(b * 1000) + 1 for a, b in windows)


def spark_metrics(events: list[dict], windows: list[tuple[float, float]], spans: dict) -> dict:
    """Job, stage and task totals for the jobs submitted inside
    `windows`, plus per-span job counts for the spans in `spans`
    (name -> intervals).

    `plan_s` is, per SQL execution, the time from the execution's start
    to its first job: analysis, optimization, physical planning and
    AQE preparation on the driver before any task is scheduled.
    """
    jobs = {}
    exec_start = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = ev
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_start[str(ev["executionId"])] = ev["time"]
    timed = {j: ev for j, ev in jobs.items() if _inside(ev["Submission Time"], windows)}
    stage_ids = {s for ev in timed.values() for s in ev.get("Stage IDs", [])}

    first_job: dict[str, int] = {}
    for ev in timed.values():
        eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
        if eid in exec_start:
            first_job[eid] = min(first_job.get(eid, ev["Submission Time"]), ev["Submission Time"])
    plan_ms = sum(max(0, t - exec_start[e]) for e, t in first_job.items())

    stages = tasks = 0
    run_ms = gc_ms = 0
    cpu_ns = 0
    read_b = write_b = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stage_ids:
                stages += 1
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ids:
            tm = ev.get("Task Metrics") or {}
            tasks += 1
            run_ms += tm.get("Executor Run Time", 0)
            cpu_ns += tm.get("Executor CPU Time", 0)
            gc_ms += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            write_b += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)

    out = {
        "jobs": len(timed),
        "stages": stages,
        "tasks": tasks,
        "plan_s": plan_ms / 1e3,
        "executor_run_s": run_ms / 1e3,
        "executor_cpu_s": cpu_ns / 1e9,
        "blocked_s": max(0.0, run_ms / 1e3 - cpu_ns / 1e9),
        "gc_s": gc_ms / 1e3,
        "shuffle_read_mb": read_b / 2**20,
        "shuffle_write_mb": write_b / 2**20,
    }
    out["span_jobs"] = {
        name: sum(1 for ev in timed.values() if _inside(ev["Submission Time"], iv))
        for name, iv in spans.items()
    }
    return out
