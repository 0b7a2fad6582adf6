"""Tracing from outside the program: spans around calls into its modules.

A span is recorded by replacing a module attribute the program looks up
at call time (``plans.pipeline.build_silver``, the ``upsert_partitions``
name ``streaming.ingest`` imported, ...) with a wrapper. The program's
files are not touched; ``Tracer.restore`` puts every attribute back.

While a span is open its thread carries a Spark job group of its own, so
each job is attributed to the innermost open span (self counts). Jobs,
tasks and failed tasks are read back through ``SparkContext.statusTracker``
after each operation, before the tracker's retention limit drops them.

Spans stay in memory; ``Tracer.dump`` writes them out at the end.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass(eq=False)
class Span:
    name: str
    start: float
    phase: str
    parent: Span | None = None
    end: float | None = None
    group: str | None = None  # Spark job group while the span was innermost
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    resolved: bool = False
    children: list[Span] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_time(span: Span) -> float:
    """Span duration minus the part of it its children cover (children may
    overlap one another; the covered length is the union of intervals)."""
    if span.end is None:
        raise ValueError(f"span {span.name} is still open")
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in span.children
        if c.end is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


class Tracer:
    """Collects spans; ``sc`` returns the live SparkContext (or None)."""

    def __init__(self, sc: Callable[[], object | None]):
        self._sc = sc
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_group = 0
        self._patched: list[tuple[object, str, object]] = []
        self._seen_stages: set[tuple[str, int]] = set()
        self.spans: list[Span] = []
        self.phase = "setup"

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(name, time.perf_counter(), self.phase, parent)
        with self._lock:
            self.spans.append(sp)
            self._next_group += 1
            gid = f"perfbench-{self._next_group}"
        if parent is not None:
            parent.children.append(sp)
        sc = self._sc()
        prev = None
        if sc is not None:
            prev = sc.getLocalProperty(GROUP_KEY)
            sc.setLocalProperty(GROUP_KEY, gid)
            sp.group = gid
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(GROUP_KEY, prev)
            sp.end = time.perf_counter()

    def wrap(self, module: object, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of ``module.attr``."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def resolve_jobs(self) -> None:
        """Read job, task and failed-task counts of every closed span back
        from the status tracker. Call after each operation: the tracker
        keeps only the most recent jobs. A stage a later job reuses (skipped)
        is counted once, for the job that ran it."""
        sc = self._sc()
        if sc is None:
            return
        st = sc.statusTracker()
        app = sc.applicationId  # stage ids restart at 0 in a new context
        for sp in self.spans:
            if sp.resolved or sp.end is None or sp.group is None:
                continue
            sp.resolved = True
            for job_id in st.getJobIdsForGroup(sp.group):
                sp.jobs += 1
                info = st.getJobInfo(job_id)
                for sid in info.stageIds if info is not None else ():
                    if (app, sid) in self._seen_stages:
                        continue
                    stage = st.getStageInfo(sid)
                    if stage is None:
                        continue
                    self._seen_stages.add((app, sid))
                    sp.tasks += stage.numCompletedTasks
                    sp.failed_tasks += stage.numFailedTasks

    def closed(self, name: str, phase: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and s.end is not None and (phase is None or s.phase == phase)
        ]

    def dump(self, path: str, extra: dict | None = None) -> None:
        index = {id(s): i for i, s in enumerate(self.spans)}
        rows = [
            {
                "name": s.name, "phase": s.phase, "start": s.start, "end": s.end,
                "parent": index.get(id(s.parent)) if s.parent else None,
                "self_s": self_time(s) if s.end is not None else None,
                "jobs": s.jobs, "tasks": s.tasks, "failed_tasks": s.failed_tasks,
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": rows, **(extra or {})}, fh, indent=1)


# --- warehouse listing -------------------------------------------------


def list_files(root: str) -> dict[str, int]:
    """Data files (path -> bytes) under ``root``; bookkeeping files skipped."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, n)
            out[p] = os.path.getsize(p)
    return out


def files_added(before: dict[str, int], after: dict[str, int], prefix: str) -> tuple[int, int]:
    """(files, bytes) present under ``prefix`` after but not before."""
    new = [p for p in after if p.startswith(prefix + os.sep) and p not in before]
    return len(new), sum(after[p] for p in new)
