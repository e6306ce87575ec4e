"""In-memory span tracer with Spark counters, installed from outside the package.

The tracer wraps public entry points of the program's modules (class
methods, module functions) for the length of one traced pass and restores
them afterwards; the package itself is not edited. Each span records its
name, start, end, parent and run id, plus the Spark job ids scheduled while
it was open (``dagScheduler().nextJobId()`` before and after). Self time and
self jobs are a span's own totals minus those of its direct children.

Stage, task, shuffle and spill totals for a range of jobs are read from the
driver's status store (``statusTracker`` for the stage ids of each job,
``statusStore().lastStageAttempt`` for each stage), deduplicated by stage id
because a stage reused by a later job is listed again under that job.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


def next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    run: str
    start: float
    end: float = 0.0
    job0: int = 0
    job1: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.job1 - self.job0


class Tracer:
    """Collects spans for one run; wrappers are installed with :meth:`wrap`."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._installed: list[tuple[object, str, object]] = []
        # parent of spans opened on a thread with no open span (the stream's
        # foreachBatch callbacks run on the py4j callback thread)
        self.root: int | None = None

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        span = Span(
            id=next(self._ids),
            parent=stack[-1] if stack else self.root,
            name=name,
            run=self.run_id,
            start=time.perf_counter(),
            job0=next_job_id(self.spark),
        )
        stack.append(span.id)
        try:
            yield span
        finally:
            span.job1 = next_job_id(self.spark)
            span.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    # -- wrappers ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function or a class's method) with a
        spanned call until :meth:`uninstall`."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self.replace(owner, attr, spanned)

    def replace(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until :meth:`uninstall`."""
        self._installed.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def uninstall(self) -> None:
        while self._installed:
            owner, attr, original = self._installed.pop()
            setattr(owner, attr, original)

    # -- aggregation -------------------------------------------------------
    def _children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def totals(
        self,
        *names: str,
        self_only: bool = False,
        top_level: bool = False,
        within: str | None = None,
    ) -> tuple[float, int, int]:
        """(seconds, jobs, calls) summed over spans named ``names``.

        ``self_only`` subtracts each span's direct children; ``top_level``
        skips spans nested under another span of the same names, so nested
        calls of one layer are not counted twice; ``within`` keeps only
        spans with an ancestor of that name."""
        by_id = {s.id: s for s in self.spans}
        kids = self._children() if self_only else {}

        def ancestors(s: Span):
            while s.parent in by_id:
                s = by_id[s.parent]
                yield s.name

        secs, jobs, calls = 0.0, 0, 0
        for s in self.spans:
            if s.name not in names:
                continue
            if top_level and s.parent in by_id and by_id[s.parent].name in names:
                continue
            if within is not None and within not in ancestors(s):
                continue
            secs += s.seconds
            jobs += s.jobs
            calls += 1
            for c in kids.get(s.id, ()):
                secs -= c.seconds
                jobs -= c.jobs
        return secs, jobs, calls

    def dump(self, path: str) -> None:
        kids = self._children()
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                self_s = s.seconds - sum(c.seconds for c in kids.get(s.id, ()))
                self_jobs = s.jobs - sum(c.jobs for c in kids.get(s.id, ()))
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "parent": s.parent,
                            "name": s.name,
                            "run": s.run,
                            "start": s.start,
                            "end": s.end,
                            "jobs": s.jobs,
                            "self_s": self_s,
                            "self_jobs": self_jobs,
                        }
                    )
                    + "\n"
                )


STAGE_FIELDS = ("stages", "tasks", "executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def stage_totals(spark, jobs) -> dict[str, float]:
    """Distinct stages, tasks, executor run time, shuffle and spill bytes of
    the Spark jobs with ids in ``jobs``; stages that were skipped (their
    output reused) are not counted."""
    jsc = spark.sparkContext._jsc.sc()
    # stage metrics reach the status store through the listener bus; drain
    # it so the last job's stages are complete
    jsc.listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    store = jsc.statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0)
    seen: set[int] = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # listed but never attempted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out
