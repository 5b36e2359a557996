"""tick_ingest: the reference's own traffic, a loop of ``IngestPipeline.run``.

Before each run the producer lands one seeded tick chunk per symbol;
chunks overlap committed ticks, some runs re-drop a byte-identical copy
of an ingested file, a few land a chunk that fails the quality check
(quarantined after the run). Retention keeps two snapshots, so
``expire_snapshots`` does work on every run. After each run a freshness
read counts each symbol table.
"""

from __future__ import annotations

import os

from .. import common
from ..gen import TickLanding
from . import Workload


class TickIngest(Workload):
    OP = "ingest run"
    READ = "freshness count"

    def generate(self):
        self.root = os.path.join(self.work, "landing")
        rows = 300 if self.small else 50_000
        self.landing = TickLanding(self.root, self.seed, rows=rows)
        self.boot = self.landing.land()
        self.input_bytes = 0

    def setup(self):
        ingest = self.ctx.pkg["ingest"]
        self.warehouse = os.path.join(self.work, "warehouse")
        self.pipeline = ingest.IngestPipeline(
            self.spark, self.warehouse, expire_older_than_days=0.0, retain_last=2
        )
        self.catalog = self.pipeline.catalog
        self.boot_summary = self.pipeline.run(self.root)

    def after_setup(self):
        self._check_run(self.boot_summary, self.boot, "bootstrap")
        # one warm-up run, checked but not timed: the first run after the
        # bootstrap still pays for JIT compilation
        self.state = common.tree_state(self.warehouse)
        self.written = 0
        self.step(-1)
        self.reset_samples()
        self.input_bytes = self.written = 0

    def _check_run(self, s, landed, what):
        got = (s.rows_appended, s.files_processed, s.files_skipped, s.files_rejected)
        want = (landed.rows_appended, landed.processed, landed.skipped, landed.rejected)
        self.check(got == want, f"{what}: run summary {got} != planted {want}")

    def _count(self, sym):
        return self.pipeline.catalog.load_table(f"gold.{sym.lower()}").to_df().count()

    def step(self, i):
        landed = self.landing.land()
        self.input_bytes += landed.bytes_landed
        self.items += landed.rows_landed
        s = self.timed("op", self.pipeline.run, self.root)
        self._check_run(s, landed, f"run {i}")
        # one freshness read per symbol table
        counts = {sym: self.timed("read", self._count, sym, label=sym) for sym in self.landing.SYMBOLS}
        want = self.landing.committed
        self.check(counts == want, f"run {i}: committed rows {counts} != planted {want}")
        self.landing.quarantine(landed)
        state = common.tree_state(self.warehouse)
        self.written += common.bytes_written(self.state, state)
        self.state = state

    def finish(self):
        audit = self.pipeline.catalog.load_table("ops.audit_runs").to_df().count()
        self.check(audit == self.landing.run_no, f"audit rows {audit} != runs {self.landing.run_no}")
