"""In-memory spans around calls into the engine's layers.

A span records its name, start, end, parent span and the op it belongs
to. Every span runs its Spark work under its own job group, so after
the run the jobs, stages and tasks started under that span (and not
under a child span) can be read back from Spark's status tracker.
Group ids are unique per span: a reused group name accumulates the jobs
of every earlier span that used it.

Spans are kept in memory; :meth:`Tracer.resolve` reads the Spark counts
(again, if called again), and the caller writes the spans out when the
run ends.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    children_s: float = field(default=0.0, repr=False)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        """Duration minus the part covered by child spans."""
        return self.seconds - self.children_s


class Tracer:
    """Records spans; a disabled tracer records nothing and costs nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._prefix = f"perfbench-{os.getpid()}"

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(sid, name, op, parent.id if parent else None,
                 f"{self._prefix}-{sid}", time.perf_counter())
        self._sc.setJobGroup(s.group, name)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.seconds
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def resolve(self, spark) -> None:
        """Fill in each span's job, stage and task counts.

        Job start events reach the status store through Spark's
        asynchronous listener bus, so wait for it to drain first.
        """
        spark._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        for s in self.spans:
            job_ids = st.getJobIdsForGroup(s.group)
            s.jobs, s.stages, s.tasks = len(job_ids), 0, 0
            for jid in job_ids:
                info = st.getJobInfo(jid)
                for stage_id in info.stageIds if info else ():
                    s.stages += 1
                    stage = st.getStageInfo(stage_id)
                    s.tasks += stage.numTasks if stage else 0

    def records(self) -> list[dict]:
        return [
            {**asdict(s), "seconds": s.seconds, "self_seconds": s.self_seconds}
            for s in sorted(self.spans, key=lambda s: s.id)
        ]

    def select(self, op: str, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.op == op and s.name.startswith(prefix)]
