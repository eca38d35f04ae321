"""In-memory spans around calls into the program's layers.

A span records its name, start, end, parent and the operation it belongs to.
Each span tags the Spark jobs it launches with its own job group, so after the
run the status tracker gives the jobs and tasks each span caused. A disabled
tracer records nothing and never touches Spark.
"""

from __future__ import annotations

import contextlib
import time


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op = -1

    def begin_op(self, traced: bool) -> None:
        """Start the next operation; ``traced`` switches span recording."""
        self._op += 1
        self.enabled = traced

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": self._op,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"perfbench-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}",
                                    parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def finish(self) -> list[dict]:
        """Fill in self time, jobs and tasks of every span; returns spans.

        A span's self time is its duration minus the time its children
        cover; jobs and tasks count only what ran under the span's own group,
        so they are self counts too.

        A job also lists the stages it skipped because an earlier job already
        ran them: with adaptive execution every shuffle map stage runs as a
        job of its own, and the job that reads the shuffle lists that stage
        again. Each stage's tasks therefore count once, for the span of the
        first job that lists it."""
        tracker = self.sc.statusTracker()
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                           + s["end"] - s["start"])
        job_span = {}
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - child_time.get(s["id"], 0.0)
            jobs = tracker.getJobIdsForGroup(f"perfbench-{s['id']}")
            s["jobs"], s["tasks"] = len(jobs), 0
            job_span.update((j, s) for j in jobs)
        counted: set = set()
        for j in sorted(job_span):
            info = tracker.getJobInfo(j)
            for st in (info.stageIds if info else []):
                if st in counted:
                    continue
                counted.add(st)
                sinfo = tracker.getStageInfo(st)
                job_span[j]["tasks"] += sinfo.numCompletedTasks if sinfo else 0
        return self.spans


class TracedLakehouse:
    """Wraps a ``Lakehouse`` so the catalog calls a pipeline tick makes
    become child spans of the tick. Every other attribute passes through."""

    def __init__(self, lake, tracer: Tracer):
        self._lake = lake
        self._tracer = tracer

    def append(self, *args, **kwargs):
        with self._tracer.span("catalog.append"):
            return self._lake.append(*args, **kwargs)

    def read_since(self, *args, **kwargs):
        with self._tracer.span("catalog.read_since"):
            return self._lake.read_since(*args, **kwargs)

    def snapshots(self, *args, **kwargs):
        with self._tracer.span("catalog.snapshots"):
            return self._lake.snapshots(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._lake, name)
