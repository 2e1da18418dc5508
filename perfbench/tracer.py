"""Outside-in tracer: spans recorded by the benchmark around its calls
into each layer of the program.

Spans live in memory (name, start, end, parent, trace id) and are written
as JSON lines when the run ends.  A span's self time is its duration
minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = "run"

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; the caller may fill in the yielded ``attrs``
        dict before the span closes."""
        rec = {
            "id": len(self.spans),
            "trace": self.trace_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Self time of each span, in the order given: duration minus the
    union of its children's intervals clipped to the span."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s["parent"]
        if p is not None and p in by_id:
            ps = by_id[p]
            lo, hi = max(s["start"], ps["start"]), min(s["end"], ps["end"])
            if hi > lo:
                children[p].append((lo, hi))
    return [
        (s["end"] - s["start"]) - covered(children[s["id"]]) for s in spans
    ]


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s, t in zip(spans, self_times(spans)):
        out[s["name"]] += t
    return dict(out)


def duration_by_name(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["end"] - s["start"]
    return dict(out)


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs started inside the block with ``group`` and
    restore the enclosing group afterwards."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")
    prev = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)


def group_counts(spark, group: str) -> dict:
    """Jobs, tasks and failed tasks of a job group, from statusTracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}
