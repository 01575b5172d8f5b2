"""Spans recorded by the benchmark around its calls into each layer.

A span has a name, a layer, start and end times, a parent and the run's
trace id.  Spans are kept in memory and written out once, when the run
ends.  While a span is open its Spark job group is set, so the jobs, tasks
and failed tasks it launched (including jobs run while a plan is being
built) are read back from Spark's status tracker when it closes.  Nothing
here reaches inside ``layout_parser_spark``.

With tracing off, ``span`` only yields; no job group is set.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Span:
    __slots__ = ("sid", "name", "layer", "parent", "start", "end",
                 "jobs", "tasks", "failed_tasks", "children_s")

    def __init__(self, sid, name, layer, parent, start):
        self.sid, self.name, self.layer, self.parent = sid, name, layer, parent
        self.start, self.end = start, None
        self.jobs = self.tasks = self.failed_tasks = 0
        self.children_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the part covered by child spans."""
        return self.dur - self.children_s


class Tracer:
    def __init__(self, trace_id: str, enabled: bool):
        #: set by ``bind`` once the session has started
        self.sc = None
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._t0 = time.perf_counter()
        #: seconds spent setting job groups and reading the status tracker
        self.overhead_s = 0.0

    def bind(self, spark):
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer,
                 parent.sid if parent else None,
                 time.perf_counter() - self._t0)
        self.spans.append(s)
        self._stack.append(s)
        group = f"{self.trace_id}/{s.sid}"
        if self.sc is not None:
            t = time.perf_counter()
            self.sc.setJobGroup(group, f"{layer}:{name}")
            self.overhead_s += time.perf_counter() - t
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            self._stack.pop()
            if self.sc is not None:
                t = time.perf_counter()
                self._count_jobs(s, group)
                if parent is not None:
                    self.sc.setJobGroup(f"{self.trace_id}/{parent.sid}",
                                        f"{parent.layer}:{parent.name}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self.overhead_s += time.perf_counter() - t
            if parent is not None:
                parent.children_s += s.dur

    def _count_jobs(self, s: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            s.jobs += 1
            for sid in (info.stageIds if info else ()):
                si = st.getStageInfo(sid)
                if si is not None:
                    s.tasks += si.numTasks
                    s.failed_tasks += si.numFailedTasks

    def layer_totals(self) -> dict:
        """Per layer: self seconds, jobs, tasks and failed tasks summed over
        its spans, and the number of spans."""
        out = defaultdict(lambda: {"self_s": 0.0, "jobs": 0, "tasks": 0,
                                   "failed_tasks": 0, "spans": 0})
        for s in self.spans:
            d = out[s.layer]
            d["self_s"] += s.self_s
            d["jobs"] += s.jobs
            d["tasks"] += s.tasks
            d["failed_tasks"] += s.failed_tasks
            d["spans"] += 1
        return dict(out)

    def by_name(self, name: str) -> list:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "trace_id": self.trace_id,
                    "spans": [
                        {"id": s.sid, "name": s.name, "layer": s.layer,
                         "parent": s.parent, "start": round(s.start, 6),
                         "end": round(s.end, 6),
                         "self_s": round(s.self_s, 6), "jobs": s.jobs,
                         "tasks": s.tasks, "failed_tasks": s.failed_tasks}
                        for s in self.spans
                    ],
                    "layers": self.layer_totals(),
                },
                f,
                indent=1,
            )
