"""Tracing for the benchmark's traced run.

Spans are recorded in memory around the benchmark's calls into each
layer (name, start, end, parent, op id) and kept until the run ends.
While a span is open, its name and op id are the Spark job description,
so the event log attributes every job, stage and task to the span that
caused it.  :func:`parse_event_log` reads that log back.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op_id: int
    start: float  # wall clock, seconds since the epoch (the event log's clock)
    end: float
    parent: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer only times calls."""

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self._sc = spark.sparkContext if spark is not None else None
        self._stack: list[tuple[str, int]] = []
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: int):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((name, op_id))
        self._sc.setJobDescription(f"{name}|{op_id}")
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._sc.setJobDescription(
                "|".join(map(str, self._stack[-1])) if self._stack else None
            )
            self.spans.append(Span(name, op_id, start, end, parent))

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class JobGroup:
    """Event-log totals of every job that ran under one span (name, op id)."""

    jobs: int = 0
    last_job_end: float = 0.0  # seconds since the epoch
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    cpu_s: float = 0.0
    python: dict[str, float] = field(default_factory=dict)
    python_task_seconds: list[float] = field(default_factory=list)


# display names of the MapInPandas node's SQL metrics in Spark 4
PYTHON_METRICS = {
    "time to run Python workers": "total_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "number of output rows": "rows_from_python",
}


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    if plan.get("nodeName") == "MapInPandas":
        for m in plan.get("metrics", []):
            if m["name"] in PYTHON_METRICS:
                out[m["accumulatorId"]] = PYTHON_METRICS[m["name"]]
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def event_log_file(log_dir: str) -> str:
    (name,) = os.listdir(log_dir)
    return os.path.join(log_dir, name)


def parse_event_log(path: str) -> dict[tuple[str, int], JobGroup]:
    """Group the log's jobs, stages and tasks by job description."""
    stage_group: dict[int, tuple[str, int]] = {}
    job_group: dict[int, tuple[str, int]] = {}
    py_acc: dict[int, str] = {}
    groups: dict[tuple[str, int], JobGroup] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if not desc or "|" not in desc:
                    continue
                name, op = desc.rsplit("|", 1)
                key = (name, int(op))
                job_group[ev["Job ID"]] = key
                groups.setdefault(key, JobGroup()).jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = key
            elif kind == "SparkListenerJobEnd":
                key = job_group.get(ev["Job ID"])
                if key is not None:
                    g = groups[key]
                    g.last_job_end = max(g.last_job_end, ev["Completion Time"] / 1000.0)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
            elif kind == "SparkListenerTaskEnd":
                key = stage_group.get(ev["Stage ID"])
                if key is None:
                    continue
                g = groups[key]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                g.tasks += 1
                sw = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                is_python = False
                for acc in info.get("Accumulables", []):
                    metric = py_acc.get(acc.get("ID"))
                    if metric is None:
                        continue
                    is_python = True
                    value = float(acc.get("Update") or 0)
                    if metric.endswith("_s"):  # timing metrics are in ms
                        value /= 1000.0
                    g.python[metric] = g.python.get(metric, 0.0) + value
                if is_python:
                    g.python_task_seconds.append(
                        (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    )
    return groups


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def peak_rss_mb() -> float:
    """Peak resident set of this process's descendants (the Spark JVM and
    the Python workers it forked), summed, from ``/proc``."""
    from perfbench.session import descendants

    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
