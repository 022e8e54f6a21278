"""Spans, module-level call wrappers and Spark event-log attribution.

Spans (name, start, end, parent, run id) are kept in memory and written
out once at the end. Wall-clock ``time.time()`` is used so spans line up
with the job submission times in the Spark event log; durations use the
same clock.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

# Per-task metrics summed per layer from the event log. Keys are the
# benchmark's names, values read one task-end event.
SPARK_TASK_METRICS = {
    "executor_run_s": lambda m: m.get("Executor Run Time", 0) / 1000.0,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1000.0,
    "shuffle_write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    ),
    "shuffle_read_bytes": lambda m: sum(
        m.get("Shuffle Read Metrics", {}).get(k, 0)
        for k in ("Remote Bytes Read", "Local Bytes Read")
    ),
    "spill_bytes": lambda m: m.get("Memory Bytes Spilled", 0)
    + m.get("Disk Bytes Spilled", 0),
}


class Tracer:
    """Collects spans and per-layer counters. With ``on=False`` spans
    cost one clock read and nothing is attributed to Spark jobs.

    Spans nest on one stack. The one traced call the engine makes from
    another thread, the seen-filter fold on an epoch's writer thread,
    runs while the driver thread waits inside ``run_epoch``, so the
    stack stays consistent and the fold's parent is its epoch."""

    def __init__(self, on: bool, run_id: str, spark=None):
        self.on = on
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self.spark.sparkContext if (self.on and self.spark) else None
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                parent = self.spans[self._stack[-1]]["name"] if self._stack else None
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(parent, parent)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextlib.contextmanager
def wrapped(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Replace ``module.attr`` by a wrapper that records a span named
    ``span_name`` around each call, for the duration of the block. The
    engine looks these functions up through the module at call time, so
    its own calls are timed too."""
    saved = []
    for module, attr, span_name in targets:
        orig = getattr(module, attr)

        def make(orig=orig, span_name=span_name):
            @functools.wraps(orig)
            def call(*args, **kwargs):
                with tracer.span(span_name):
                    return orig(*args, **kwargs)

            return call

        saved.append((module, attr, orig))
        setattr(module, attr, make())
    try:
        yield
    finally:
        for module, attr, orig in reversed(saved):
            setattr(module, attr, orig)


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """(jobs, tasks by stage id) from the finished event log(s) in
    ``log_dir``. Each job: id, submit time (s), stage ids."""
    jobs, tasks = [], {}
    # rolling logs are one directory per application of events_* files
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(
                        {
                            "id": ev["Job ID"],
                            "submit": ev["Submission Time"] / 1000.0,
                            "stages": ev.get("Stage IDs", []),
                        }
                    )
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev)
    return jobs, tasks


def attribute(
    spans: list[dict], jobs: list[dict], tasks: dict[int, list[dict]]
) -> dict:
    """Spark job and task totals for the jobs submitted inside ``spans``
    (by submission time). Jobs submitted by engine worker threads carry
    no job group, so time windows are the attribution that covers all."""
    out = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
    out.update({k: 0.0 for k in SPARK_TASK_METRICS})
    windows = [(s["start"], s["end"]) for s in spans]
    # a stage listed by several jobs ran (at most) once, in the first
    owner: dict[int, int] = {}
    for job in sorted(jobs, key=lambda j: j["id"]):
        for sid in job["stages"]:
            owner.setdefault(sid, job["id"])
    for job in jobs:
        if not any(a <= job["submit"] <= b for a, b in windows):
            continue
        out["jobs"] += 1
        for sid in job["stages"]:
            if owner[sid] != job["id"]:
                continue
            for ev in tasks.get(sid, []):
                out["tasks"] += 1
                if ev.get("Task Info", {}).get("Failed") or (
                    ev.get("Task End Reason", {}).get("Reason") != "Success"
                ):
                    out["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                for k, fn in SPARK_TASK_METRICS.items():
                    out[k] += fn(m)
    return out
