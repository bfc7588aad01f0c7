"""In-memory span tracer for the traced benchmark run.

A span records its name, start, end, parent span and the Spark job group
its work ran under.  Spans stay in memory until :meth:`Tracer.dump`
writes them out with each span's self time (its duration minus its
child spans' durations).  Job and task counts are read
from ``SparkContext.statusTracker()`` after the run, per job group.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    job_group: str | None = None
    rows_out: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, trace_id: str, sc):
        self.trace_id = trace_id
        self.sc = sc            # SparkContext whose job groups are set
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, job_group: str | None = None):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter(),
                 job_group=job_group)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def layer_span(self, name: str):
        """A span whose Spark jobs run under its own job group."""
        group = f"{self.trace_id}:{name}"
        self.sc.setJobGroup(group, name)
        with self.span(name, job_group=group) as s:
            yield s

    def layer(self, name: str, build):
        """``build`` (a call returning a lazy DataFrame) as one layer
        span: ``.plan`` is the call, ``.exec`` persists and counts the
        result, so the next layer's input is already materialized."""
        def call(*args):
            with self.layer_span(name) as s:
                with self.span(name + ".plan"):
                    df = build(*args)
                with self.span(name + ".exec"):
                    df = df.persist()
                    s.rows_out = df.count()
            return df
        return call

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus its children's durations (children
        of one span run one after another)."""
        out = {s.id: s.duration for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.duration
        return out

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        t0 = self.spans[0].start if self.spans else 0.0
        rows = []
        for s in self.spans:
            d = asdict(s)
            d.update(start=s.start - t0, end=s.end - t0,
                     duration=s.duration, self_s=selfs[s.id])
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": rows,
                       **(extra or {})}, f, indent=1)


def job_counts(sc, job_group: str) -> dict[str, int]:
    """Jobs, completed tasks and failed tasks Spark ran under a job group."""
    st = sc.statusTracker()
    jobs = tasks = failed = 0
    for jid in st.getJobIdsForGroup(job_group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in list(info.stageIds):
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}
