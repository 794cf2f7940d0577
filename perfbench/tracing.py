"""Tracing for ``--trace 1`` runs.

Spans are recorded from the benchmark's own files, around calls into
the program: name, start, end, parent and run id, kept in memory and
written out when the run ends. Only blocking calls get spans: the
operator functions return lazy plans, so a span around one would time
plan building, not execution.

Hot per-token functions are timed as aggregated leaves: one record per
(parent span, name) with the busy time and the call count, instead of
one span per call.

Spark-side costs come from Spark's event log, with the job group set
to the layer name for the duration of each blocking call.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._leaves: dict[tuple[int | None, str], list[float]] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def leaf(self, name: str, fn):
        """``fn`` wrapped so that each call adds to the busy time of the
        aggregated leaf ``name`` under the innermost open span."""

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                key = (self._stack[-1] if self._stack else None, name)
                acc = self._leaves.get(key)
                if acc is None:
                    self._leaves[key] = [t1 - t0, 1, t0, t1]
                else:
                    acc[0] += t1 - t0
                    acc[1] += 1
                    acc[3] = t1

        return timed

    def records(self) -> list[dict]:
        """Spans plus one record per aggregated leaf."""
        out = [dict(s, id=i, busy=s["end"] - s["start"]) for i, s in enumerate(self.spans)]
        for (parent, name), (busy, calls, t0, t1) in self._leaves.items():
            out.append(
                {"name": name, "start": t0, "end": t1, "parent": parent,
                 "run_id": self.run_id, "id": None, "busy": busy, "calls": calls}
            )
        return out

    def busy(self) -> dict[str, float]:
        """Total busy seconds per name."""
        tot: dict[str, float] = defaultdict(float)
        for r in self.records():
            tot[r["name"]] += r["busy"]
        return dict(tot)

    def self_time(self) -> dict[str, float]:
        """Per name: busy time minus the busy time of its direct children."""
        recs = self.records()
        child: dict[int, float] = defaultdict(float)
        for r in recs:
            if r["parent"] is not None:
                child[r["parent"]] += r["busy"]
        out: dict[str, float] = defaultdict(float)
        for r in recs:
            out[r["name"]] += r["busy"] - (child[r["id"]] if r["id"] is not None else 0.0)
        return dict(out)

    def write(self, fh) -> None:
        for r in self.records():
            fh.write(json.dumps(r) + "\n")


@contextlib.contextmanager
def patched(obj, name: str, value):
    old = getattr(obj, name)
    setattr(obj, name, value)
    try:
        yield
    finally:
        setattr(obj, name, old)


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs this thread submits inside the block."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


# -- Spark event log ---------------------------------------------------


def _task_skew(durations: list[float]) -> float:
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def _lines(files: list[str]):
    for path in files:
        with open(path) as fh:
            yield from fh


def eventlog_groups(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: seconds from job submission to completion
    (``job_s``), shuffle bytes written, bytes spilled to disk, executor
    CPU seconds and task skew (max over median task time, the worst
    Spark stage with ≥2 tasks)."""
    # one application per run; Spark writes its log as a directory of
    # rolled ``events_<n>_<app>`` files
    files = sorted(
        glob.glob(os.path.join(eventlog_dir, "*", "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"job_s": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0,
                 "executor_cpu_s": 0.0, "task_skew": 1.0}
    )
    task_times: dict[int, list[float]] = defaultdict(list)
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            job_start[ev["Job ID"]] = (group, ev["Submission Time"])
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_start:
                group, t0 = job_start.pop(ev["Job ID"])
                out[group]["job_s"] += (ev["Completion Time"] - t0) / 1e3
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            g = out[group]
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            task_times[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
    for sid, durations in task_times.items():
        if len(durations) >= 2:
            g = out[stage_group[sid]]
            g["task_skew"] = max(g["task_skew"], _task_skew(durations))
    return dict(out)
