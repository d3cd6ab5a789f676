"""Spans recorded around the benchmark's calls into each module, and a
reader for Spark's own event log.

Spans live in memory and are written out once, at the end of the run. The
event log is read after the SparkContext stops (that is when Spark flushes
it); jobs and SQL executions are attributed to a span by their submission
time, which is exact here because the benchmark runs one call at a time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float          # epoch seconds
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name,
                 self._stack[-1] if self._stack else None, self.run_id,
                 time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, start: float, end: float, parent: Span) -> None:
        """A span timed by other means (see call_times)."""
        self.spans.append(Span(len(self.spans), name, parent.id, self.run_id,
                               start, end))

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        return s.dur - sum(c.dur for c in self.children(s))

    def last(self, name: str) -> Span:
        return [s for s in self.spans if s.name == name][-1]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@contextmanager
def call_times(owner, name: str):
    """Within the block, owner.<name> is wrapped so that the list it yields
    gets the (start, end) epoch times of each call, from whichever thread
    makes it. For a call made inside a program function, where no span of
    the benchmark's own can go."""
    fn = getattr(owner, name)
    calls: list[tuple[float, float]] = []

    def timed(*args, **kwargs):
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            calls.append((t0, time.time()))

    setattr(owner, name, timed)
    try:
        yield calls
    finally:
        setattr(owner, name, fn)


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------

def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session config for a plain-JSON, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _exchanges(plan: dict) -> int:
    n = int("Exchange" in plan["nodeName"])
    return n + sum(_exchanges(c) for c in plan.get("children", ()))


# SQL metrics of Spark's Python nodes (MapInPandas and friends), as named
# in the task accumulables of the stages that run them
PYTHON_METRICS = ("time to start Python workers", "time to initialize Python workers",
                  "time to run Python workers", "data sent to Python workers",
                  "data returned from Python workers")


class EventLog:
    """Jobs, tasks and final SQL plans of every application in a directory."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: list[dict] = []            # submit_ms, stage_ids
        self.stage_tasks: dict[tuple, list] = {}
        self.executions: list[dict] = []      # start_ms, final plan
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            if os.path.isfile(path) and not path.endswith(".inprogress"):
                self._read(path, os.path.basename(path))

    def _read(self, path: str, app: str) -> None:
        execs: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    self.jobs.append({"submit_ms": e["Submission Time"],
                                      "stages": [(app, s) for s in e["Stage IDs"]]})
                elif ev == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    py = {a["Name"]: float(a["Update"]) for a in info.get("Accumulables", ())
                          if a.get("Name") in PYTHON_METRICS}
                    self.stage_tasks.setdefault((app, e["Stage ID"]), []).append({
                        "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "spill_b": m.get("Disk Bytes Spilled", 0),
                        "shuffle_w_b": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                        "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "python": py,
                    })
                elif ev.endswith("SQLExecutionStart"):
                    execs[e["executionId"]] = {"start_ms": e["time"],
                                               "plan": e["sparkPlanInfo"]}
                elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                    if e["executionId"] in execs:
                        execs[e["executionId"]]["plan"] = e["sparkPlanInfo"]
        self.executions.extend(execs.values())

    def window(self, start: float, end: float) -> dict:
        """Engine totals for the jobs and SQL executions submitted within
        [start, end] (epoch seconds)."""
        lo, hi = start * 1e3, end * 1e3
        jobs = [j for j in self.jobs if lo <= j["submit_ms"] <= hi]
        stages = {s for j in jobs for s in j["stages"] if s in self.stage_tasks}
        tasks = [t for s in stages for t in self.stage_tasks[s]]
        execs = [x for x in self.executions if lo <= x["start_ms"] <= hi]
        py: dict[str, float] = {}
        for t in tasks:
            for name, v in t["python"].items():
                py[name] = py.get(name, 0) + v
        mb = 1024 * 1024
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "executor_run_s": sum(t["run_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_write_mb": sum(t["shuffle_w_b"] for t in tasks) / mb,
            "spill_mb": sum(t["spill_b"] for t in tasks) / mb,
            "input_mb": sum(t["input_b"] for t in tasks) / mb,
            "exchanges": sum(_exchanges(x["plan"]) for x in execs),
            "python": py,
        }

    def python_task_durations(self, start: float, end: float) -> list[float]:
        """Durations of the Python-node tasks (for the fused pass: its own
        mapInPandas tasks) of the jobs submitted within [start, end]."""
        lo, hi = start * 1e3, end * 1e3
        stages = {s for j in self.jobs if lo <= j["submit_ms"] <= hi
                  for s in j["stages"]}
        return [t["dur_s"] for s in stages for t in self.stage_tasks.get(s, ())
                if t["python"]]
