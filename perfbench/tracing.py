"""Spans, Spark event-log accounting and process measurements.

Spans are recorded by the benchmark around each call into an engine
layer. They stay in memory and are written out when the run ends. A
span belongs to an op (one timed unit of workload work) and has a
parent: the innermost open span on the same thread, or, for a span
opened on a thread with nothing open (the streaming foreachBatch
thread), the innermost span open on the thread that opened the op.

Spark jobs are attributed to spans by wall-clock window: a job belongs
to the innermost span whose interval holds its submission time. Job
groups are not used because streaming micro-batch jobs run on the
stream thread, not the caller's.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every method is a
    cheap no-op, so the untraced run pays nothing but a branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: dict | None = None
        self._op_stack: list[dict] = []
        self._next_id = 0

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # a thread with nothing open (the streaming foreachBatch
            # thread): the caller is the innermost span open on the
            # thread that opened the current op
            parent = self._op_stack[-1] if self._op_stack else None
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": None if parent is None else parent["id"],
            "op": None if self._op is None else self._op["op"],
            "start": time.time(),
            "end": None,
            "thread": threading.get_ident(),
        }
        rec.update(attrs)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, op_id: str):
        """An op span: the root of one timed unit of work."""
        if not self.enabled:
            yield None
            return
        with self.span("op") as rec:
            rec["op"] = op_id
            prev = self._op, self._op_stack
            self._op, self._op_stack = rec, self._stack()
            try:
                yield rec
            finally:
                self._op, self._op_stack = prev

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark event log


def event_log_confs(log_dir: str) -> list[str]:
    """spark-submit ``--conf`` pairs for an uncompressed, non-rolling
    event log (Spark 4 defaults to a zstd rolling directory)."""
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]


# SQL metrics summed per job from task updates, and per execution from
# driver-side updates (names as Spark 4.1 registers them)
TASK_SQL_METRICS = {"data sent to Python workers", "time to run Python workers", "scan time"}
DRIVER_SQL_METRICS = {"number of files read"}


def read_event_log(log_dir: str) -> dict:
    """Parse the one application log under ``log_dir`` into jobs (with
    their summed task metrics) and SQL executions (with their named
    driver-side and task-side SQL metric totals)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    metric_names: dict[int, str] = {}
    executions: dict[int, dict] = {}
    total_task_run_ms = 0.0

    def plan_metrics(info: dict) -> None:
        for m in info.get("metrics", []):
            metric_names[m["accumulatorId"]] = m["name"]
        for child in info.get("children", []):
            plan_metrics(child)

    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": len(ev.get("Stage IDs", [])),
                    "tasks": 0,
                    "task_run_ms": 0.0,
                    "task_cpu_ms": 0.0,
                    "gc_ms": 0.0,
                    "shuffle_read_bytes": 0,
                    "shuffle_write_bytes": 0,
                    "spill_bytes": 0,
                    "input_bytes": 0,
                    "output_bytes": 0,
                    "records_read": 0,
                    "sql": defaultdict(float),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics") or {}
                if jid is None:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                run = tm.get("Executor Run Time", 0)
                j["task_run_ms"] += run
                total_task_run_ms += run
                j["task_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                j["gc_ms"] += tm.get("JVM GC Time", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                j["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                inp = tm.get("Input Metrics") or {}
                j["input_bytes"] += inp.get("Bytes Read", 0)
                j["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                j["records_read"] += inp.get("Records Read", 0) + sr.get(
                    "Total Records Read", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name in TASK_SQL_METRICS:
                        try:
                            j["sql"][name] += float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            pass
            elif kind in (
                "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                plan_metrics(ev.get("sparkPlanInfo") or {})
                if kind.endswith("SQLExecutionStart"):
                    executions[ev["executionId"]] = {
                        "start": ev["time"] / 1000.0,
                        "driver": defaultdict(float),
                    }
            elif kind == (
                "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
            ):
                ex = executions.get(ev["executionId"])
                if ex is None:
                    continue
                for acc_id, value in ev.get("accumUpdates", []):
                    name = metric_names.get(acc_id)
                    if name in DRIVER_SQL_METRICS:
                        ex["driver"][name] += float(value)
    return {
        "jobs": jobs,
        "executions": executions,
        "total_task_run_ms": total_task_run_ms,
    }


def attribute(spans: list[dict], times: list[float]) -> list[int | None]:
    """For each timestamp, the id of the innermost span holding it (the
    latest-starting among those whose interval contains it)."""
    ordered = sorted(spans, key=lambda s: s["start"])
    out = []
    for t in times:
        best = None
        for s in ordered:
            if s["start"] > t:
                break
            if s["end"] >= t and (best is None or s["start"] >= best["start"]):
                best = s
        out.append(None if best is None else best["id"])
    return out


# ---------------------------------------------------------------------------
# Process measurements


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def process_tree() -> list[int]:
    """This process and every descendant (the driver JVM, Python workers)."""
    seen, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Each process's own peak resident memory (VmHWM), summed over this
    process and every descendant (the driver JVM and the Python workers)."""
    return sum(_status_kb(p, "VmHWM") for p in process_tree()) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and every descendant."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
