"""The three workloads. Each is a closed loop with one client: the next
operation is issued only after the previous one returned.

A workload object provides:

- ``generate()``: write its seeded inputs under its work directory
  (not timed, not part of set-up time);
- ``setup()``: load its tables through the engine (timed: part of
  ``setup_s``);
- ``after_setup()``: untimed checks and warm-up before the loop;
- ``step(i)``: operation ``i`` of the loop, run in whole cycles of
  ``CYCLE`` operations; it records its timed calls
  with :meth:`Workload.timed` and its checks with :meth:`Workload.check`;
- ``finish()``: the end-of-run correctness checks;
- ``input_bytes`` / ``warehouse``: for the storage metrics.
"""

from __future__ import annotations

import sys
import time
import traceback
from collections import defaultdict


class Workload:
    # operations per cycle of the mix; a run measures whole cycles
    CYCLE = 1
    # what the workload's primary operation and its read are
    OP = ""
    READ = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.work = ctx.work
        self.small = ctx.small
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.labels: dict[str, list[str]] = defaultdict(list)
        self.traced: dict[str, list[bool]] = defaultdict(list)
        self.items = 0  # input rows the loop's operations consumed
        self.attempted = 0
        self.failed = 0

    def timed(self, series: str, fn, *a, label: str | None = None, **kw):
        """Run one engine call, recording its latency in ``series``
        (``op``, ``read`` or ``maintenance``) and, with ``label``, which
        kind of call it was."""
        t0 = time.perf_counter()
        out = fn(*a, **kw)
        self.samples[series].append(time.perf_counter() - t0)
        self.labels[series].append(label or series)
        self.traced[series].append(self.ctx.tracer.enabled)
        return out

    def read_samples(self) -> list[float]:
        """The latencies behind ``read_s_p50``."""
        return self.samples["read"]

    def reset_samples(self) -> None:
        """Forget warm-up calls."""
        self.samples.clear()
        self.labels.clear()
        self.traced.clear()
        self.items = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def guarded(self, what: str, fn, *a, **kw):
        """Run ``fn``; an exception counts as one failed operation."""
        try:
            return fn(*a, **kw)
        except Exception:
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: operation failed: {what}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    # overridden by each workload
    def generate(self) -> None: ...
    def setup(self) -> None: ...
    def after_setup(self) -> None: ...
    def step(self, i: int) -> None: ...
    def finish(self) -> None: ...
