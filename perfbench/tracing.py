"""In-memory spans around calls into the program's layers.

A span records its name, start, end and parent span.  While a span is open
its Spark job group is set, so the jobs, stages, tasks and failed tasks the
call launched are read back from ``SparkContext.statusTracker()`` when it
closes.  Spans stay in memory and are written out once, at the end of a run.

``Tracer(sc, enabled=False)`` is the untraced mode: ``span`` only yields, and
``wrap`` installs nothing, so an untraced run executes exactly the program's
own code.  Wrappers stay installed for the life of the process.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"perfbench-span-{span.id}"

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent.id if parent else None, 0.0, attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(self._group(span), name)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", self._group(parent))
            self._count_jobs(span)

    def _count_jobs(self, span: Span) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group(span)):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            span.jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None:  # skipped: its output was reused
                    continue
                span.stages += 1
                span.tasks += stage.numTasks
                span.failed_tasks += stage.numFailedTasks

    def wrap(self, owner: object, attr: str, name: str, label=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        around every call.  ``label(*args, **kwargs)`` may return attrs for
        the span (for example the table a write targets)."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            attrs = label(*args, **kwargs) if label else {}
            with tracer.span(name, **attrs):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- queries over the recorded spans -----------------------------------

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        spans = [s for s in self.spans if s.name == name]
        if within is not None:
            spans = [s for s in spans if within.start <= s.start and s.end <= within.end]
        return spans

    def subtree_counts(self, root: Span) -> dict[str, int]:
        """Jobs/stages/tasks of ``root`` and every span nested in it."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        todo = [root]
        while todo:
            s = todo.pop()
            for k in out:
                out[k] += getattr(s, k)
            todo.extend(children.get(s.id, []))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
