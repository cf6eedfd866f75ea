"""Spans recorded around public calls, and Spark event-log readers.

Spans live in memory and are written once, when the run ends. Each
span has a name, wall-clock start and end (epoch seconds, so they line
up with event-log timestamps), its parent span and the run id shared
by every span of the run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans; with ``enabled=False`` it records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def write_spans(path: str, spans: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(spans, fh, indent=1)


# -- Spark event log (spark.eventLog.compress=false) --------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single finished application log under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as fh:
        return [json.loads(line) for line in fh if line.strip()]


class EventLog:
    """Job → stage → task index over the raw events."""

    def __init__(self, events: list[dict]):
        self.jobs: list[dict] = []  # {"start": s, "stages": [...]}
        self.stages: dict[int, dict] = {}  # completed stages only
        self.tasks: dict[int, list[dict]] = {}
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs.append({"start": ev["Submission Time"] / 1000.0, "stages": ev["Stage IDs"]})
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                self.stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                self.tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])

    def jobs_in(self, start: float, end: float) -> list[dict]:
        return [j for j in self.jobs if start <= j["start"] <= end]

    def ran_stages(self, jobs: list[dict]) -> list[int]:
        """Stages of ``jobs`` that actually ran (skipped ones never complete)."""
        return sorted({s for j in jobs for s in j["stages"] if s in self.stages and s in self.tasks})

    def totals(self, start: float, end: float) -> dict:
        jobs = self.jobs_in(start, end)
        stages = self.ran_stages(jobs)
        tm = [t for s in stages for t in self.tasks[s]]
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tm),
            "spark.executor_cpu_s": sum(t["Executor CPU Time"] for t in tm) / 1e9,
            "spark.gc_s": sum(t["JVM GC Time"] for t in tm) / 1e3,
            "spark.spill_mb": sum(t["Memory Bytes Spilled"] + t["Disk Bytes Spilled"] for t in tm) / 1e6,
            "spark.shuffle_read_mb": sum(_shuffle_read_bytes(t) for t in tm) / 1e6,
            "spark.shuffle_write_mb": sum(t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tm) / 1e6,
            # time tasks spent blocked writing shuffle files (nanoseconds in the log)
            "spark.shuffle_write_time_s": sum(t["Shuffle Write Metrics"]["Shuffle Write Time"] for t in tm) / 1e9,
        }

    def exchange(self, start: float, end: float) -> dict:
        """Map/reduce sides of the last shuffle in the window: the
        reduce stage is the last stage that read shuffle data; its
        tasks give rows and run time per partition."""
        stages = self.ran_stages(self.jobs_in(start, end))
        readers = [s for s in stages if sum(_shuffle_read_records(t) for t in self.tasks[s]) > 0]
        writers = [s for s in stages if sum(t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in self.tasks[s]) > 0]
        if not readers or not writers:
            raise RuntimeError("no shuffle exchange found in the traced window")
        red = self.tasks[readers[-1]]
        rows = [_shuffle_read_records(t) for t in red]
        run_s = [t["Executor Run Time"] / 1e3 for t in red]
        return {
            "shuffle_write_mb": sum(t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for s in writers for t in self.tasks[s]) / 1e6,
            "rows_max_over_median": max(rows) / statistics.median(rows),
            "task_s_max_over_median": max(run_s) / statistics.median(run_s),
            "reduce_core_s": sum(run_s),
        }


def _shuffle_read_bytes(t: dict) -> int:
    r = t["Shuffle Read Metrics"]
    return r["Remote Bytes Read"] + r["Local Bytes Read"]


def _shuffle_read_records(t: dict) -> int:
    return t["Shuffle Read Metrics"]["Total Records Read"]
