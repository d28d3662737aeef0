"""Measurement helpers: drift, the span recorder, event-log
folding and host diagnostics. Nothing here imports Spark, so the
self-test runs without a JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


def drift(values: list[float]) -> float:
    """Second-half median over first-half median, minus one."""
    h = len(values) // 2
    if h == 0:
        return 0.0
    return statistics.median(values[h:]) / statistics.median(values[:h]) - 1.0


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Spans:
    """In-memory span recorder. Each span is (name, start, end, parent,
    op); times are epoch seconds so they line up with the event log.
    With ``set_group`` given, every span also becomes the Spark job group
    ``<op>|<name>`` while it is open, so the event log folds by span."""

    def __init__(self, set_group=None):
        self.records: list[dict] = []
        self._stack: list[str] = []
        self._set_group = set_group

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self._set_group:
            self._set_group(f"{op}|{name}")
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if self._set_group:
                self._set_group(f"{op}|{parent}" if parent else "-")
            self.records.append(
                {"name": name, "start": start, "end": end, "parent": parent, "op": op}
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


@contextmanager
def no_span(name: str, op: int):
    yield


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

PY_BYTES_SENT = "data sent to Python workers"
_ROWS = "number of output rows"
# plan nodes that stream their input rows to Python workers: today's
# mapInPandas and the mapInArrow it may become
_PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "MapInArrow")


def _python_input_row_metrics(plan: dict, out: set) -> None:
    """Accumulator ids of the row counters feeding each Python node: the
    first descendant (through wrappers such as WholeStageCodegen) that
    counts its output rows."""
    if plan.get("nodeName", "").startswith(_PYTHON_NODES):
        for child in plan.get("children", []):
            ids = _first_row_metric(child)
            out.update(ids)
    for child in plan.get("children", []):
        _python_input_row_metrics(child, out)


def _first_row_metric(plan: dict) -> list[int]:
    ids = [m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == _ROWS]
    if ids:
        return ids
    found: list[int] = []
    for child in plan.get("children", []):
        found += _first_row_metric(child)
    return found


def _new_group() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        "py_bytes_sent": 0, "py_rows_sent": 0, "intervals": [],
    }


def fold_event_log(lines) -> dict[str, dict]:
    """Fold Spark event-log JSON lines into per-job-group totals.

    Stages and tasks are attributed by the job group in the properties
    their stage was submitted with; skipped stages are never submitted,
    so they are not counted. ``intervals`` holds each completed stage's
    (submission, completion) in epoch seconds."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    py_row_ids: set[int] = set()
    task_updates: list[tuple[str, list]] = []

    def gid(props) -> str:
        return (props or {}).get("spark.jobGroup.id") or "-"

    def grp(props) -> dict:
        return groups.setdefault(gid(props), _new_group())

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            grp(ev.get("Properties"))["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = gid(ev.get("Properties"))
            grp(ev.get("Properties"))["stages"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = groups.setdefault(stage_group.get(info["Stage ID"], "-"), _new_group())
            if "Submission Time" in info and "Completion Time" in info:
                g["intervals"].append(
                    (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            g = groups.setdefault(stage_group.get(ev["Stage ID"], "-"), _new_group())
            g["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason", "Success") != "Success":
                g["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            task_updates.append(
                (stage_group.get(ev["Stage ID"], "-"),
                 (ev.get("Task Info") or {}).get("Accumulables") or [])
            )
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _python_input_row_metrics(ev.get("sparkPlanInfo") or {}, py_row_ids)

    # plan events may follow the tasks they describe, so the Python-row
    # counters are matched once every plan has been seen
    for g, accs in task_updates:
        for a in accs:
            upd = a.get("Update")
            if upd is None:
                continue
            if a.get("Name") == PY_BYTES_SENT:
                groups[g]["py_bytes_sent"] += int(upd)
            elif a.get("ID") in py_row_ids:
                groups[g]["py_rows_sent"] += int(upd)
    return groups


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    end = lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def driver_gap(op_start: float, op_end: float, intervals) -> float:
    """Op wall time not covered by any of its stages: driver-side
    planning, job submission and result handling."""
    return (op_end - op_start) - union_length(intervals, op_start, op_end)


def read_event_log(directory: str) -> list[str]:
    """Lines of every event-log file under ``directory``."""
    lines: list[str] = []
    for root, _dirs, files in sorted(os.walk(directory)):
        for name in sorted(files):
            if not name.startswith("."):
                with open(os.path.join(root, name)) as f:
                    lines += [ln for ln in f if ln.strip()]
    return lines


# --------------------------------------------------------------------------
# host diagnostics
# --------------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]), sum(int(x) for x in fields[1:])
    except (OSError, IndexError, ValueError):
        return 0, 0


def steal_fraction(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return (after[0] - before[0]) / dt if dt > 0 else 0.0


def calibration_s() -> float:
    """Fixed single-core Python loop: its wall time rises when a
    co-tenant takes the core, whatever the in-VM load average says."""
    t = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t


def parallel_calibration_s() -> float:
    """Fixed multi-threaded BLAS product, best of three: it slows when a
    co-tenant takes some of the cores, which the single-core loop
    cannot see."""
    import numpy as np

    a = np.random.default_rng(0).random((500, 500))
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        for _ in range(8):
            a @ a
        best = min(best, time.perf_counter() - t)
    return best


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
