"""upsert_mix: row-level writes beside reads.

The loop cycles MERGE (half updates of hot keys, half inserts), UPDATE
and DELETE over a narrow key range, and REFRESH of an aggregate MV over
the written table; each write is followed by a read, so every scan plans
against a new snapshot and misses the scan-plan memo. Every cycle ends
with ``compact`` plus ``expire_snapshots`` (timed apart from the writes).
The loop is the table's only writer, so expiry deletes unreferenced files
at once instead of after the default 24-hour grace; the storage metric
then measures the retained snapshots, not the run's length. Reads are checked
against a Python model of the table; at the end the table must equal a
DuckDB replay of the same statements and the MV a recompute.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np

from .. import common, gen
from . import Workload

KINDS = ("merge", "update", "delete", "refresh")
# the TPC-H sf0.1 orders count, the scale lake_query reads at; every size
# below is a share of it, so --small shrinks the whole mix alike
ACCOUNTS = 150_000
MERGE_SHARE = 0.02  # rows per MERGE, half updates, half inserts
HOT_SHARE = 0.2  # MERGE updates hit the most recent ids
RECENT_SHARE = 0.3  # UPDATE and DELETE ranges fall among the most recent ids
UPDATE_SHARE, DELETE_SHARE = 0.015, 0.01  # id range width of UPDATE, DELETE
PARTITIONS = 8  # truncate(id) partitions of the initial load
MV_SQL = (
    "CREATE MATERIALIZED VIEW up.region_totals AS SELECT region, COUNT(*) AS n, "
    "SUM(balance) AS total FROM up_accounts GROUP BY region"
)
REFRESH_SQL = "REFRESH MATERIALIZED VIEW up.region_totals"
MERGE_SQL = (
    "MERGE INTO up.accounts AS t USING up_src AS s ON t.id = s.id "
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
)


class UpsertMix(Workload):
    CYCLE = len(KINDS)
    OP = "write (MERGE, UPDATE, DELETE or MV refresh)"
    READ = "read after write"

    def generate(self):
        n = 2_000 if self.small else ACCOUNTS
        self.n = n
        self.initial = gen.accounts(self.seed, n)
        self.initial_path = os.path.join(self.work, "input", "accounts.parquet")
        self.row_bytes = gen.write_parquet(self.initial, self.initial_path) / n
        self.input_bytes = 0.0
        cols = self.initial.to_pydict()
        self.model = {
            i: [r, b, s, v]
            for i, r, b, s, v in zip(cols["id"], cols["region"], cols["balance"], cols["status"], cols["version"])
        }
        self.next_id = n
        self.replay: list[tuple[str, str]] = []  # (kind, sql or parquet path)
        self.n_ops = 0

    def setup(self):
        catalog_mod, table_mod = self.ctx.pkg["catalog"], self.ctx.pkg["table"]
        self.warehouse = os.path.join(self.work, "warehouse")
        self.catalog = cat = catalog_mod.LakehouseCatalog(self.spark, self.warehouse)
        cat.create_namespace("up")
        df = self.spark.read.parquet(self.initial_path)
        spec = [table_mod.PartitionField(source="id", transform="truncate", width=self.n // PARTITIONS)]
        self.table = cat.create_table("up.accounts", df.schema, spec)
        self.table.append(df)
        cat.sql(MV_SQL).collect()

    def after_setup(self):
        self._check_mv("set-up")
        # one warm-up cycle, checked but not timed: the first DML of a
        # process pays for JIT compilation
        self.state = common.tree_state(self.warehouse)
        self.written = 0
        for i in range(len(KINDS)):
            self.step(i)
        self.reset_samples()
        self.input_bytes = self.written = 0

    # -- model ----------------------------------------------------------------

    def _region_totals(self):
        out = {}
        for r, b, _s, _v in self.model.values():
            n, t = out.get(r, (0, 0))
            out[r] = (n + 1, t + b)
        return out

    def _read_mv(self):
        return self.catalog.sql("SELECT region, n, total FROM up_region_totals").collect()

    def _check_mv(self, what, rows=None):
        rows = self._read_mv() if rows is None else rows
        got = {r["region"]: (int(r["n"]), int(r["total"])) for r in rows}
        self.check(got == self._region_totals(), f"{what}: MV differs from the model")

    # -- operations -----------------------------------------------------------

    def _merge(self, i):
        live = np.fromiter(self.model.keys(), dtype=np.int64)
        live.sort()
        batch = gen.merge_batch(
            self.seed, i, self.next_id, live, int(self.n * MERGE_SHARE), int(self.n * HOT_SHARE))
        path = os.path.join(self.work, "input", f"merge_{i:05d}.parquet")
        gen.write_parquet(batch, path)
        self.spark.read.parquet(path).createOrReplaceTempView("up_src")
        self.timed("op", lambda: self.catalog.sql(MERGE_SQL).collect(), label="merge")
        cols = batch.to_pydict()
        for k, r, b, s, v in zip(cols["id"], cols["region"], cols["balance"], cols["status"], cols["version"]):
            self.model[k] = [r, b, s, v]
        self.next_id = max(self.next_id, max(cols["id"]) + 1)
        self.replay.append(("merge", path))
        return batch.num_rows

    def _range(self, g, share):
        width = int(self.n * share)
        hi = max(self.model) + 1
        lo = int(g.integers(max(0, hi - int(self.n * RECENT_SHARE)), max(1, hi - width)))
        return lo, lo + width

    def _update(self, i, g):
        lo, hi = self._range(g, UPDATE_SHARE)
        d = int(g.integers(1, 500))
        where = f"id >= {lo} AND id < {hi} AND status = 'active'"
        sql = f"UPDATE up.accounts SET balance = balance + {d}, version = version + 1 WHERE {where}"
        self.timed("op", lambda: self.catalog.sql(sql).collect(), label="update")
        n = 0
        for k, row in self.model.items():
            if lo <= k < hi and row[2] == "active":
                row[1] += d
                row[3] += 1
                n += 1
        self.replay.append(("sql", sql.replace("up.accounts", "acc")))
        return n

    def _delete(self, i, g):
        lo, hi = self._range(g, DELETE_SHARE)
        x = int(g.integers(20_000, 80_000))
        sql = f"DELETE FROM up.accounts WHERE id >= {lo} AND id < {hi} AND balance < {x}"
        self.timed("op", lambda: self.catalog.sql(sql).collect(), label="delete")
        gone = [k for k, row in self.model.items() if lo <= k < hi and row[1] < x]
        for k in gone:
            del self.model[k]
        self.replay.append(("sql", sql.replace("up.accounts", "acc")))
        return len(gone)

    def step(self, i):
        # operations are numbered across the warm-up and the loop
        i = self.n_ops
        self.n_ops += 1
        kind = KINDS[i % len(KINDS)]
        g = gen.rng_for(self.seed, 6, i)
        if kind == "merge":
            changed = self._merge(i)
        elif kind == "update":
            changed = self._update(i, g)
        elif kind == "delete":
            changed = self._delete(i, g)
        else:
            self.timed("op", lambda: self.catalog.sql(REFRESH_SQL).collect(), label="refresh")
            changed = 0
        self.items += changed
        self.input_bytes += changed * self.row_bytes
        self.ctx.tracer.count("dml.changed_rows", changed if kind != "refresh" else 0)
        if kind == "refresh":
            self._check_mv(f"op {i}", self.timed("read", self._read_mv, label="mv"))
        else:
            r = gen.ACCOUNT_REGIONS[int(g.integers(len(gen.ACCOUNT_REGIONS)))]
            q = f"SELECT COUNT(*) AS n, SUM(balance) AS s FROM up_accounts WHERE region = '{r}'"
            row = self.timed("read", lambda: self.catalog.sql(q).collect()[0], label="table")
            n, t = self._region_totals().get(r, (0, 0))
            self.check((row["n"], row["s"] or 0) == (n, t), f"op {i} ({kind}): read differs from the model")
        if kind == KINDS[-1]:
            maint = self.ctx.pkg["maintenance"]
            self.timed("maintenance", maint.compact, self.table, target_file_bytes=4 << 20, label="compact")
            self.timed("maintenance", maint.expire_snapshots, self.table,
                       older_than_ms=int(time.time() * 1000), retain_last=4,
                       orphan_grace_secs=0.0, label="expire")
        state = common.tree_state(self.warehouse)
        self.written += common.bytes_written(self.state, state)
        self.state = state

    def finish(self):
        con = duckdb.connect()
        con.execute(f"CREATE TABLE acc AS SELECT * FROM read_parquet('{self.initial_path}')")
        for kind, arg in self.replay:
            if kind == "merge":
                con.execute(f"DELETE FROM acc WHERE id IN (SELECT id FROM read_parquet('{arg}'))")
                con.execute(f"INSERT INTO acc SELECT * FROM read_parquet('{arg}')")
            else:
                con.execute(arg)
        cols = ["id", "region", "balance", "status", "version"]
        want = con.execute(f"SELECT {', '.join(cols)} FROM acc ORDER BY id").fetchall()
        got = sorted(tuple(r.values()) for r in self.table.to_df().select(*cols).toArrow().to_pylist())
        self.check(got == [tuple(r) for r in want], "final table differs from the DuckDB replay")
        model = sorted((k, *v) for k, v in self.model.items())
        self.check(model == [tuple(r) for r in want], "model differs from the DuckDB replay")
        # the loop ends on whole cycles, so the MV was refreshed after the
        # last write; compaction and expiry since then change no rows
        mv = sorted(tuple(r) for r in self.catalog.sql("SELECT region, n, total FROM up_region_totals").collect())
        recompute = con.execute("SELECT region, COUNT(*), SUM(balance) FROM acc GROUP BY region ORDER BY region").fetchall()
        self.check(mv == [tuple(r) for r in recompute], "MV differs from a recompute")
        con.close()
