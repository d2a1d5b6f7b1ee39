"""Spans and counts for the traced run.

Spans are recorded by the benchmark around its calls into each layer of
the package; nothing inside the package is changed. They stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str  # "<layer>.<call>"
    start: float  # perf_counter seconds
    end: float
    parent: int | None  # index of the enclosing span
    op: int | None  # operation id; spans of one operation share it


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def record(self, name: str, value: float) -> None:
        """One per-operation sample of a layer count or time."""
        self.samples[name].append(value)

    def median(self, name: str) -> float:
        """Median of the samples, 0 when the layer was never reached."""
        vals = self.samples.get(name)
        return statistics.median(vals) if vals else 0.0

    @contextmanager
    def patched(self, module, calls: dict[str, str]):
        """Wrap ``module.<attr>`` in a span named ``calls[attr]`` for the
        duration of the block. Calls the module no longer has are skipped,
        and the metrics built on them read 0."""
        saved = {a: getattr(module, a) for a in calls if hasattr(module, a)}

        def traced(name, fn):
            @functools.wraps(fn)
            def call(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)

            return call

        for attr, fn in saved.items():
            setattr(module, attr, traced(calls[attr], fn))
        try:
            yield
        finally:
            for attr, fn in saved.items():
                setattr(module, attr, fn)

    def span_samples(self) -> dict[str, list[float]]:
        """Duration of each span, grouped by span name."""
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            out[s.name].append(s.end - s.start)
        return out

    def self_time_by_layer(self) -> dict[str, float]:
        """Total self time per layer: each span's duration minus the time
        its child spans cover (children run one after another)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name.split(".", 1)[0]] += s.end - s.start - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def spark_job_stats(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran for one job group, read from the
    public status tracker. Stages skipped because their shuffle output was
    reused ran no tasks and are not counted."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = failed = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
            continue
        ran += 1
        tasks += st.numCompletedTasks
        failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks, "failed_tasks": failed}
