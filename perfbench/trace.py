"""Benchmark-side tracing: spans around public calls, and a reducer that
turns a Spark event log into per-job-group layer counters.

Spans live in memory and are written out once, at exit.  Each span is
also a Spark job group (``setJobGroup``), so the jobs a public call
launches can be attributed from the event log: stage call sites are JVM
frames and name no Python function.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    path: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Nested spans; with ``enabled=False`` every call is a bare pass-through."""

    def __init__(self, run_id: str, spark=None, enabled: bool = True):
        self.run_id = run_id
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        path = name if parent is None else f"{self.spans[parent].path}/{name}"
        s = Span(sid, name, path, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"{self.run_id}:{sid}:{path}", path)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    p = self.spans[self._stack[-1]]
                    sc.setJobGroup(f"{self.run_id}:{p.id}:{p.path}", p.path)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, float]:
        """Seconds per span path, minus the time covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.path] = out.get(s.path, 0.0) + (s.end - s.start) - child[s.id]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_s": self.self_times()}, f)


# ---- event-log reduction ---------------------------------------------------

PYTHON_IN = "data sent to Python workers"
PYTHON_OUT = "data returned from Python workers"
PYTHON_RUN = "time to run Python workers"
PYTHON_ROWS = "number of output rows"


@dataclass
class GroupTotals:
    """Counters summed over every job of one job-group span path."""
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_tasks: int = 0
    python_rows: int = 0
    python_run_s: float = 0.0
    python_in_mb: float = 0.0
    python_out_mb: float = 0.0
    python_stages: int = 0

    def add(self, o: "GroupTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


_MB = 1024.0 * 1024.0
_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB)")


def _acc_number(v) -> float:
    """Accumulable values are numbers, or strings such as '1.2 MiB'."""
    try:
        return float(v)
    except (TypeError, ValueError):
        m = _SIZE.search(str(v))
        if not m:
            return 0.0
        scale = {"B": 1, "KiB": 1024, "MiB": _MB, "GiB": _MB * 1024}[m.group(2)]
        return float(m.group(1)) * scale


def event_log_files(log_dir: str) -> list[str]:
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                  if os.path.isfile(p))


def reduce_event_log(paths: list[str], python_node: str | None = None
                     ) -> dict[str, GroupTotals]:
    """Totals per span path (the third field of the job-group id).

    Jobs without a job group land under ``""``.  The ``python_*``
    counters come from the SQL metrics of Python plan nodes (those with a
    "time to run Python workers" metric), matched to stages by
    accumulator id; ``python_node`` keeps only nodes whose description
    contains that text.  Adaptive execution re-plans and mints new
    accumulators, so every plan an event carries is read.
    """
    stage_group: dict[int, str] = {}
    group_jobs: dict[str, int] = {}
    py_accs: dict[int, str] = {}
    tasks: list[tuple[int, dict]] = []
    stages: list[dict] = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    name = gid.split(":", 2)[2] if gid.count(":") >= 2 else ""
                    group_jobs[name] = group_jobs.get(name, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = name
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
                elif kind == "SparkListenerStageCompleted":
                    stages.append(ev["Stage Info"])
                elif "sparkPlanInfo" in ev:
                    _collect_python_accs(ev["sparkPlanInfo"], python_node, py_accs)
    out: dict[str, GroupTotals] = {}

    def g(sid: int) -> GroupTotals:
        return out.setdefault(stage_group.get(sid, ""), GroupTotals())

    for name, n in group_jobs.items():
        out.setdefault(name, GroupTotals()).jobs += n
    for sid, m in tasks:
        t = g(sid)
        t.tasks += 1
        t.run_s += m.get("Executor Run Time", 0) / 1e3
        t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        t.gc_s += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        t.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                              + sr.get("Local Bytes Read", 0)) / _MB
        sw = m.get("Shuffle Write Metrics") or {}
        t.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / _MB
        t.spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
    for info in stages:
        vals: dict[str, float] = {}
        for a in info.get("Accumulables", []):
            name = py_accs.get(a.get("ID"))
            if name is not None:
                vals[name] = vals.get(name, 0.0) + _acc_number(a.get("Value"))
        if PYTHON_RUN not in vals:
            continue
        t = g(info["Stage ID"])
        t.python_stages += 1
        t.python_tasks += info.get("Number of Tasks", 0)
        t.python_run_s += vals[PYTHON_RUN] / 1e3
        t.python_in_mb += vals.get(PYTHON_IN, 0.0) / _MB
        t.python_out_mb += vals.get(PYTHON_OUT, 0.0) / _MB
        t.python_rows += int(vals.get(PYTHON_ROWS, 0.0))
    return out


def _collect_python_accs(node: dict, needle: str | None,
                         acc: dict[int, str]) -> None:
    metrics = node.get("metrics", [])
    if (any(m.get("name") == PYTHON_RUN for m in metrics)
            and (needle is None or needle in node.get("simpleString", ""))):
        for m in metrics:
            acc[m.get("accumulatorId")] = m.get("name")
    for c in node.get("children", []):
        _collect_python_accs(c, needle, acc)
