"""Spans recorded around calls into the program, and Spark event-log totals.

Spans live in memory and are written out as JSON lines when the run ends.
A disabled tracer records nothing.
"""

import contextlib
import json
import os
import statistics
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


class EventLog:
    """Task and job records of one application's (non-rolling) event log,
    indexed by the job group each job ran under."""

    def __init__(self, path: str):
        self.jobs = {}  # job id -> {group, stages, start, end}
        self.tasks = []  # (stage id, duration s, cpu s, gc s, shuffle write bytes, accum dict)
        self.stage_job = {}
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, ev: dict):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev.get("Submission Time", 0) / 1e3,
                "end": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
            self.jobs[ev["Job ID"]] = job
            for sid in job["stages"]:
                self.stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1e3
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            metrics = ev.get("Task Metrics") or {}
            accum = {}
            for a in info.get("Accumulables", []):
                try:
                    accum[a.get("Name")] = accum.get(a.get("Name"), 0) + int(a.get("Update", 0))
                except (TypeError, ValueError):
                    pass
            shuffle = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            self.tasks.append(
                (
                    ev.get("Stage ID"),
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3,
                    metrics.get("Executor CPU Time", 0) / 1e9,
                    metrics.get("JVM GC Time", 0) / 1e3,
                    shuffle,
                    accum,
                )
            )

    def job_ids(self, group_prefix: str) -> list:
        return sorted(
            j for j, rec in self.jobs.items() if (rec["group"] or "").startswith(group_prefix)
        )

    def tasks_of(self, job_ids) -> list:
        jobs = set(job_ids)
        return [t for t in self.tasks if self.stage_job.get(t[0]) in jobs]

    def job_seconds(self, job_id) -> float:
        rec = self.jobs[job_id]
        return (rec["end"] or rec["start"]) - rec["start"]

    def accum_total(self, job_ids, name: str) -> int:
        return sum(t[5].get(name, 0) for t in self.tasks_of(job_ids))

    def summary(self, job_ids) -> dict:
        """spark.* per-layer metrics over the given jobs."""
        tasks = self.tasks_of(job_ids)
        by_stage = {}
        for t in tasks:
            by_stage.setdefault(t[0], []).append(t[1])
        skew = 1.0
        if by_stage:
            heaviest = max(by_stage.values(), key=sum)
            med = statistics.median(heaviest)
            skew = max(heaviest) / med if med > 0 else 1.0
        return {
            "spark.tasks": len(tasks),
            "spark.executor_cpu_s": sum(t[2] for t in tasks),
            "spark.gc_s": sum(t[3] for t in tasks),
            "spark.shuffle_write_mb": sum(t[4] for t in tasks) / 1e6,
            "spark.task_skew": skew,
        }
