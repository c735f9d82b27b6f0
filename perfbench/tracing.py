"""Span tracing for the traced benchmark run.

The program is traced from outside: :class:`Tracer` replaces public
functions with wrappers that record a span (name, start, end, parent,
operation id) and run the wrapped call under its own Spark job group,
so the jobs and tasks each layer launches can be counted. A function
bound into another module with ``from x import f`` is patched in that
module too: every loaded package module whose attribute IS the
function object gets the wrapper, so from-import call sites are
covered.

Job and task counts come from ``SparkContext.statusTracker()``. They
are read at the end of every cycle (:meth:`Tracer.count_jobs`), after
the listener bus has drained, not at the end of the run: the status
store keeps only a bounded number of jobs.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import sys
import time
from dataclasses import asdict, dataclass, field

PACKAGE = "airflow_loan_etl_pipeline_spark"
_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


class Tracer:
    """Owns the spans of one run and the patches that produce them."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._uncounted: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        # span name -> callable given the wrapped call's arguments first
        self.observers: dict[str, object] = {}
        self.op = 0

    # -- patching ---------------------------------------------------------

    def install(self, targets: dict[str, tuple[str, str]]) -> None:
        """``targets`` maps span name -> (module, attribute). Patches
        the function in its defining module and in every package module
        that bound it by name."""
        for span_name, (mod_name, attr) in targets.items():
            fn = getattr(importlib.import_module(mod_name), attr)
            wrapper = self.wrap(span_name, fn)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PACKAGE) and (
                    getattr(mod, attr, None) is fn
                ):
                    self._patches.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patches):
            setattr(mod, attr, fn)
        self._patches.clear()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            observe = self.observers.get(name)
            if observe is not None:
                observe(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        s, prev_group = self._open(name)
        try:
            yield s
        finally:
            self._close(s, prev_group)

    def _open(self, name: str) -> tuple[Span, str | None]:
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=next(self._ids),
            name=name,
            parent=parent.id if parent else None,
            op=self.op,
            start=time.perf_counter(),
        )
        if parent:
            parent.children.append(s.id)
        prev_group = self._sc.getLocalProperty(_GROUP)
        self._sc.setLocalProperty(_GROUP, s.group)
        self._stack.append(s)
        return s, prev_group

    def _close(self, s: Span, prev_group: str | None) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        # None removes the property: the caller's jobs go back to no group
        self._sc.setLocalProperty(_GROUP, prev_group)
        self.spans.append(s)
        self._uncounted.append(s)

    def count_jobs(self) -> None:
        """Attribute jobs and completed tasks to every span closed since
        the last call, by job group."""
        try:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # private API gone: give the bus a moment
            time.sleep(0.2)
        tracker = self._sc.statusTracker()
        for s in self._uncounted:
            job_ids = tracker.getJobIdsForGroup(s.group)
            s.jobs = len(job_ids)
            for jid in job_ids:
                job = tracker.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    stage = tracker.getStageInfo(sid)
                    if stage:
                        s.tasks += stage.numCompletedTasks
        self._uncounted.clear()

    # -- reporting ------------------------------------------------------------

    def self_time(self, s: Span, by_id: dict[int, Span]) -> float:
        """Span duration minus the time its children cover (children run
        sequentially on the caller's thread, so they never overlap)."""
        child = sum(by_id[c].end - by_id[c].start for c in s.children)
        return (s.end - s.start) - child

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row.pop("children")
                f.write(json.dumps(row) + "\n")
