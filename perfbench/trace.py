"""Spans around the calls into the engine's modules, from the outside.

A :class:`Tracer` wraps public names where their callers look them up
(``ingest.check_quality`` is bound at import time, so the wrapper goes on
the ``ingest`` module; ``dml.merge_into`` is imported by ``catalog`` at
call time, so it goes on ``dml``). While tracing is off a wrapper is one
attribute test and a call. While it is on, each call records a span
(name, start, end, parent, operation id) and sets a Spark job group, so
the jobs, stages and tasks a span's actions ran can be read back from
Spark's status store after the operation. A span on a lazy function
covers only driver-side plan construction; executor work is charged to
the span whose action ran it.

Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_PREFIX = "perfbench"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    idx: int


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.idx: (s.end - s.start) - covered(kids[s.idx], s.start, s.end)
        for s in spans
    }


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = False
        self.op = -1
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.calls: dict[str, int] = defaultdict(int)
        self.totals: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.stash: dict = {}
        self._frames: list = []
        self._patches: list = []
        self._last_job = -1
        self.ops_traced = 0

    # -- spans ---------------------------------------------------------------

    def _set_group(self, group: str | None, desc: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", desc)

    def in_span(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def parent_name(self) -> str | None:
        return self.spans[self._stack[-1]].name if self._stack else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.op, len(self.spans))
        self.spans.append(sp)
        self._stack.append(sp.idx)
        self._set_group(f"{GROUP_PREFIX}-{self.op}-{sp.idx}", name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self._set_group(f"{GROUP_PREFIX}-{self.op}-{top.idx}", top.name)
            else:
                self._set_group(None, None)
            self.calls[name] += 1

    def count(self, key: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[key] += value

    def capture_frame(self, df) -> None:
        """Remember a DataFrame whose Catalyst phase times to read."""
        if self.enabled:
            self._frames.append(df)

    # -- patching ------------------------------------------------------------

    def patch(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``. ``before(*a, **kw)``
        runs first and its result reaches ``after(result, ctx, *a, **kw)``;
        both run only while tracing is on, inside the span's parent."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            ctx = before(*a, **kw) if before else None
            with tracer.span(name):
                out = orig(*a, **kw)
            if after:
                after(out, ctx, *a, **kw)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def hook(self, owner, attr: str, fn) -> None:
        """Call ``fn(*a, **kw)`` before ``owner.attr`` without a span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if tracer.enabled:
                fn(*a, **kw)
            return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- operations ----------------------------------------------------------

    def begin_op(self, op: int) -> None:
        self.op = op
        self.enabled = True
        self._frames = []

    def end_op(self) -> None:
        """Close the operation: read the Catalyst phase times of the
        frames it captured, then Spark's status store for the jobs its
        spans ran."""
        self.enabled = False
        self._set_group(f"{GROUP_PREFIX}-aux", "perfbench counters")
        for df in self._frames:
            self._read_phases(df)
        self._set_group(None, None)
        self._read_jobs()
        self.ops_traced += 1
        for s in self.spans:
            if s.op == self.op:
                self.totals[s.name] += s.end - s.start

    def _read_phases(self, df) -> None:
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                self.counts[f"spark.{ph}_s"] += opt.get().durationMs() / 1000.0

    def _read_jobs(self) -> None:
        if self.spark is None:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        mine = f"{GROUP_PREFIX}-{self.op}-"
        stage_ids = []
        it = store.jobsList(None).iterator()
        newest = self._last_job
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self._last_job:
                continue
            newest = max(newest, jid)
            grp = j.jobGroup()
            if not (grp.isDefined() and grp.get().startswith(mine)):
                continue
            self.counts["spark.jobs"] += 1
            self.counts["spark.tasks"] += j.numTasks()
            self.counts["spark.failed_tasks"] += j.numFailedTasks()
            sids = j.stageIds()
            for k in range(sids.size()):
                stage_ids.append(sids.apply(k))
        self._last_job = newest
        self.counts["spark.stages"] += len(stage_ids)
        from py4j.protocol import Py4JJavaError

        for sid in set(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # skipped stage: never submitted, nothing ran
            self.counts["spark.executor_run_s"] += sd.executorRunTime() / 1000.0
            self.counts["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()

    def self_totals(self) -> dict[str, float]:
        """Self time summed per span name."""
        out: dict[str, float] = defaultdict(float)
        for idx, t in self_times(self.spans).items():
            out[self.spans[idx].name] += t
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
