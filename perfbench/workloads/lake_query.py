"""lake_query: seeded analytic reads over a fixed snapshot.

Set-up loads a TPC-H-shaped star schema and an event table into the
table format: partitioned, multi-file, the fact table in four appends so
that versions 1..3 can be time-travelled. It also loads an embedding
table (see ``vectors.py``). The loop runs the SQL templates in turn,
each with parameters drawn from the seed, through
``LakehouseCatalog.sql``; every ``KNN_EVERY``-th read is a ``knn_lsh``
top-k batch instead. Nothing is written, and the distinct scans (10:
seven tables plus three old versions) fit the engine's 32-entry scan-plan memo. Every SQL result is
checked against DuckDB over the same Parquet files.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb

from .. import common, gen
from . import Workload
from .vectors import VectorReads

NS = "lq"
KNN_EVERY = 8  # a cycle: the seven SQL templates, then one knn_lsh batch
PARTITIONS = {
    "lineitem": ("l_shipdate", "years"),
    "orders": ("o_orderdate", "years"),
    "events": ("ts", "days"),
}
TABLE_ROWS_READ = {
    "agg_scan": ("lineitem",),
    "range_scan": ("lineitem",),
    "point_lookup": ("orders",),
    "star_join": ("lineitem", "orders", "customer", "nation", "region"),
    "window_topk": ("orders", "customer"),
    "tumbling_window": ("events",),
    "time_travel": ("lineitem",),
}
TEMPLATES = tuple(TABLE_ROWS_READ)


def query(template: str, g, n_orders: int) -> tuple[str, str]:
    """(Spark SQL, DuckDB SQL) for one draw of ``template``."""
    day = lambda k: (dt.date(1994, 1, 1) + dt.timedelta(days=int(k))).isoformat()  # noqa: E731
    if template == "agg_scan":
        d = day(365 * int(g.integers(1, 6)))
        q = (f"SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
             f"SUM(l_extendedprice) AS price FROM lq_lineitem WHERE l_shipdate <= DATE '{d}' "
             f"GROUP BY l_returnflag, l_linestatus")
        return q, q
    if template == "range_scan":
        d0 = int(g.integers(0, 20)) * 90
        q = (f"SELECT COUNT(*) AS n, SUM(l_extendedprice * l_discount) AS rev FROM lq_lineitem "
             f"WHERE l_shipdate >= DATE '{day(d0)}' AND l_shipdate < DATE '{day(d0 + 90)}' "
             f"AND l_discount BETWEEN 2 AND 6 AND l_quantity < 24")
        return q, q
    if template == "point_lookup":
        k = int(g.integers(0, n_orders))
        q = (f"SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM lq_orders "
             f"WHERE o_orderkey = {k}")
        return q, q
    if template == "star_join":
        y = 1994 + int(g.integers(0, 5))
        r = gen.REGIONS[int(g.integers(0, 5))]
        q = (f"SELECT r_name, n_name, COUNT(*) AS n, SUM(l_extendedprice) AS rev "
             f"FROM lq_lineitem JOIN lq_orders ON l_orderkey = o_orderkey "
             f"JOIN lq_customer ON o_custkey = c_custkey "
             f"JOIN lq_nation ON c_nationkey = n_nationkey "
             f"JOIN lq_region ON n_regionkey = r_regionkey "
             f"WHERE o_orderdate >= DATE '{y}-01-01' AND o_orderdate < DATE '{y + 1}-01-01' "
             f"AND r_name = '{r}' GROUP BY r_name, n_name")
        return q, q
    if template == "window_topk":
        d0 = int(g.integers(0, 58)) * 30
        k = int(g.integers(3, 11))
        q = (f"SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (SELECT c_mktsegment, "
             f"o_orderkey, o_totalprice, ROW_NUMBER() OVER (PARTITION BY c_mktsegment "
             f"ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM lq_orders "
             f"JOIN lq_customer ON o_custkey = c_custkey WHERE o_orderdate >= DATE '{day(d0)}' "
             f"AND o_orderdate < DATE '{day(d0 + 30)}') AS t WHERE rn <= {k}")
        return q, q
    if template == "tumbling_window":
        h = int(g.integers(0, 66))
        t0 = dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)
        t1 = t0 + dt.timedelta(hours=6)
        where = f"ts >= TIMESTAMP '{t0}' AND ts < TIMESTAMP '{t1}'"
        spark_q = (f"SELECT window(ts, '1 hour').start AS w, event_type, COUNT(*) AS n, "
                   f"SUM(value) AS v FROM lq_events WHERE {where} GROUP BY 1, 2")
        duck_q = (f"SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS n, "
                  f"SUM(value) AS v FROM lq_events WHERE {where} GROUP BY 1, 2")
        return spark_q, duck_q
    if template == "time_travel":
        v = int(g.integers(1, 4))
        d = day(int(g.integers(1, 6)) * 365)
        body = "SELECT COUNT(*) AS n, SUM(l_quantity) AS qty FROM {} WHERE l_shipdate < DATE '" + d + "'"
        return body.format(f"lq_lineitem VERSION AS OF {v}"), body.format(f"lq_lineitem_v{v}")
    raise ValueError(template)


def canonical(rows) -> list[tuple]:
    """Order-free, engine-neutral form of a result: datetimes compared as
    naive UTC, integers as Python ints."""
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, dt.datetime) and v.tzinfo is not None:
                v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            vals.append(int(v) if hasattr(v, "__index__") and not isinstance(v, bool) else v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


class LakeQuery(Workload):
    CYCLE = KNN_EVERY
    OP = "query (SQL template or knn_lsh batch)"
    READ = "SQL query"

    def generate(self):
        if self.small:
            self.schema = gen.star_schema(self.seed, orders=2_400, customers=240, events=6_000)
        else:
            self.schema = gen.star_schema(self.seed)
        d = os.path.join(self.work, "input")
        self.files: dict[str, list[str]] = {}
        self.input_bytes = 0
        for name, t in self.schema.tables.items():
            parts = self.schema.lineitem_batches if name == "lineitem" else [t]
            self.files[name] = []
            for j, part in enumerate(parts):
                p = os.path.join(d, f"{name}_{j}.parquet")
                self.input_bytes += gen.write_parquet(part, p)
                self.files[name].append(p)
        self.rows = {n: t.num_rows for n, t in self.schema.tables.items()}
        # the oracle reads the same Parquet files once, into memory
        self.duck = duckdb.connect()
        for name, paths in self.files.items():
            self.duck.execute(f"CREATE TABLE lq_{name} AS SELECT * FROM read_parquet({paths!r})")
        for v in (1, 2, 3):
            self.duck.execute(
                f"CREATE TABLE lq_lineitem_v{v} AS SELECT * FROM read_parquet({self.files['lineitem'][:v]!r})"
            )
        self.oracle: dict[str, list[tuple]] = {}
        self.results: list[tuple[str, str, list[tuple]]] = []
        self.vec = VectorReads(self)
        self.input_bytes += self.vec.generate(self.small)

    def setup(self):
        catalog_mod, table_mod = self.ctx.pkg["catalog"], self.ctx.pkg["table"]
        self.warehouse = os.path.join(self.work, "warehouse")
        self.catalog = cat = catalog_mod.LakehouseCatalog(self.spark, self.warehouse)
        cat.create_namespace(NS)
        for name, paths in self.files.items():
            df0 = self.spark.read.parquet(paths[0])
            spec = []
            if name in PARTITIONS:
                src, tr = PARTITIONS[name]
                spec = [table_mod.PartitionField(source=src, transform=tr)]
            t = cat.create_table(f"{NS}.{name}", df0.schema, spec)
            for p in paths:
                t.append(self.spark.read.parquet(p))
        self.vec.load(cat)

    def after_setup(self):
        self.written = common.tree_bytes(common.tree_state(self.warehouse))
        # warm-up, checked but not timed: one cycle, so the loop measures
        # warm code paths; the next cycle can still run slower, which the
        # per-kind medians absorb
        g = gen.rng_for(self.seed, 21)
        for template in TEMPLATES:
            self._sql(template, g)
        self.vec.knn_topk()
        self.reset_samples()
        self.g = gen.rng_for(self.seed, 20)
        self.n_sql = 0

    def _sql(self, template, g):
        spark_q, duck_q = query(template, g, self.rows["orders"])
        rows = self.timed("op", lambda: self.catalog.sql(spark_q).collect(), label=template)
        self.items += sum(self.rows[t] for t in TABLE_ROWS_READ[template])
        self.results.append((template, duck_q, canonical(rows)))

    def read_samples(self):
        # the SQL reads alone; op_s_p50 also counts the knn_lsh batches
        return [v for v, k in zip(self.samples["op"], self.labels["op"]) if k in TEMPLATES]

    def step(self, i):
        if i % KNN_EVERY == KNN_EVERY - 1:
            self.items += self.vec.knn_topk()
        else:
            # templates take turns, so every run has the same mix;
            # their parameters are drawn from the seed
            self._sql(TEMPLATES[self.n_sql % len(TEMPLATES)], self.g)
            self.n_sql += 1

    def finish(self):
        for template, duck_q, got in self.results:
            want = self.oracle.get(duck_q)
            if want is None:
                want = self.oracle[duck_q] = canonical(self.duck.execute(duck_q).fetchall())
            self.check(got == want, f"{template}: result differs from DuckDB: {duck_q}")
        self.duck.close()
        self.vec.finish()
