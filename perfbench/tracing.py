"""Measurement helpers: in-memory spans, a process-tree RSS sampler, and a
fold of Spark's JSON event log into per-layer counters.

Nothing here imports the program: spans are recorded around calls the
benchmark makes into the program's public functions, and Spark's own
metrics come from the event log the benchmark asks Spark to write.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class Tracer:
    """Spans (name, start, end, parent) kept in memory until ``dump``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wall(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"metrics": metrics, "spans": self.spans}, f, indent=1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and its
    Python workers), sampled while ``active`` is set."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                total = sum(_rss_bytes(p) for p in descendants(me))
                self.peak = max(self.peak, total)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


_PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "FlatMapGroupsInArrow",
)


def _python_row_accumulators(plan: dict, out: set[int]) -> None:
    name = plan.get("nodeName", "")
    is_python = name.startswith(_PYTHON_NODES) or "(Python)" in plan.get("simpleString", "")
    if is_python:
        for m in plan.get("metrics", ()):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", ()):
        _python_row_accumulators(child, out)


def _event_files(log_dir: str) -> list[str]:
    """Event-log files in write order; Spark 4 rolls them into a directory
    of ``events_<n>_<app>`` files."""
    files = [p for p in glob.glob(f"{log_dir}/**/*", recursive=True) if os.path.isfile(p)]
    files = [p for p in files if "appstatus" not in os.path.basename(p)]

    def order(p: str) -> tuple:
        base = os.path.basename(p)
        parts = base.split("_")
        return (os.path.dirname(p), int(parts[1]) if base.startswith("events_") else 0)

    return sorted(files, key=order)


def fold_event_log(log_dir: str, job_group: str) -> dict:
    """Spark counters over the jobs tagged with ``job_group``."""
    jobs: set[int] = set()
    stage_ids: set[int] = set()
    completed: set[int] = set()
    python_rows_acc: set[int] = set()
    acc_updates: list[tuple[int, str, int]] = []
    sums = dict.fromkeys(
        ("tasks", "run_ms", "cpu_ns", "gc_ms", "input_bytes", "shuffle_write", "spill"), 0
    )
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev == "SparkListenerJobStart":
                    if (e.get("Properties") or {}).get("spark.jobGroup.id") == job_group:
                        jobs.add(e["Job ID"])
                        stage_ids.update(e.get("Stage IDs", ()))
                elif ev == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    if sid in stage_ids:
                        completed.add(sid)
                elif ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_ids:
                    tm = e.get("Task Metrics") or {}
                    sums["tasks"] += 1
                    sums["run_ms"] += tm.get("Executor Run Time", 0)
                    sums["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    sums["gc_ms"] += tm.get("JVM GC Time", 0)
                    sums["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sums["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    sums["spill"] += tm.get("Disk Bytes Spilled", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                        upd = acc.get("Update")
                        if isinstance(upd, (int, float)) or str(upd).isdigit():
                            acc_updates.append((int(acc["ID"]), acc.get("Name", ""), int(upd)))
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _python_row_accumulators(e.get("sparkPlanInfo") or {}, python_rows_acc)
    py_bytes = sum(u for _, name, u in acc_updates if name == "data sent to Python workers")
    py_rows = sum(u for i, _, u in acc_updates if i in python_rows_acc)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(completed),
        "spark.tasks": sums["tasks"],
        "spark.executor_run_s": sums["run_ms"] / 1e3,
        "spark.executor_cpu_s": sums["cpu_ns"] / 1e9,
        "spark.gc_s": sums["gc_ms"] / 1e3,
        "spark.input_bytes": sums["input_bytes"],
        "spark.shuffle_write_bytes": sums["shuffle_write"],
        "spark.spill_bytes": sums["spill"],
        "arrow.python_rows": py_rows,
        "arrow.python_bytes": py_bytes,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total
