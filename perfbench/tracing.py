"""Spans for the traced run, recorded from outside the program.

A span has a name, start, end, parent and run id; spans stay in memory
until the run writes them out. Each layer-level span also tags its Spark
jobs with a job group named after the span, so the job, task and failed
task counts of that layer can be read back from ``statusTracker()``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.groups: dict[str, list[str]] = {}  # layer -> job groups used

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time ``name``; with ``group`` (a layer name) every Spark job
        started inside is tagged so ``job_stats(group)`` can count it."""
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        if group is not None:
            tag = f"{self.run_id}:{group}:{idx}"
            self.groups.setdefault(group, []).append(tag)
            self.sc.setJobGroup(tag, name)
        try:
            yield rec
        finally:
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add_group(self, layer: str, group_id: str) -> None:
        """Count jobs of a group the program set itself (a streaming
        query tags its micro-batches with its run id)."""
        self.groups.setdefault(layer, []).append(group_id)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Summed over spans called ``name``: duration minus the part of
        the interval its child spans cover."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["name"] != name:
                continue
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == i)
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            total += (s["end"] - s["start"]) - covered
        return total

    def job_stats(self, layer: str) -> dict[str, int]:
        """Jobs, completed tasks and failed tasks of ``layer``'s groups."""
        st = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for g in self.groups.get(layer, []):
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is not None:
                        tasks += si.numCompletedTasks
                        failed += si.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "tasks_failed": failed}

    def dump(self) -> list[dict]:
        """Spans with times relative to the first span's start."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                for s in self.spans]
