"""Vector top-k reads with the LLM-data operators, over a lakehouse table.

Seeded embeddings drawn around planted cluster centres are loaded as a
table at set-up. Each read runs ``knn_lsh`` for a rotating batch of query
vectors. Every batch must reach ``RECALL_FLOOR`` recall@k against
``knn_bruteforce``, which is itself checked against an exact NumPy top-k.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from .. import gen, layers

K = 10
QUERY_BATCH = 50
BATCHES = 4
RECALL_FLOOR = 0.9
DIM = 64
# fewer, wider sketches than the engine's defaults suit tightly
# clustered embeddings (see ``knn_lsh``'s parameter note)
LSH_TABLES, LSH_BITS = 8, 8


class VectorReads:
    def __init__(self, wl):
        self.wl = wl
        self.ctx = wl.ctx

    def generate(self, small: bool) -> int:
        """Write the embeddings; returns the bytes written."""
        n = 300 if small else 2_000
        table = gen.embeddings(self.wl.seed, n, DIM)
        self.path = os.path.join(self.wl.work, "input", "vectors.parquet")
        size = gen.write_parquet(table, self.path)
        self.rows = n
        self.vecs = np.stack(table.column("embedding").to_numpy(zero_copy_only=False))
        g = gen.rng_for(self.wl.seed, 7)
        qb = min(QUERY_BATCH, n // BATCHES)
        self.batches = [sorted(int(x) for x in ids) for ids in g.choice(n, size=(BATCHES, qb), replace=False)]
        self.results: list[tuple[int, dict[int, list[int]]]] = []
        self.n_reads = 0
        return size

    def load(self, catalog) -> None:
        catalog.create_namespace("cur")
        df = self.ctx.spark.read.parquet(self.path)
        catalog.create_table("cur.vecs", df.schema).append(df)
        self.catalog = catalog

    def _knn(self, ids):
        sim = self.ctx.pkg["similarity"]
        corpus = self.catalog.load_table("cur.vecs").to_df()
        queries = corpus.filter(F.col("vec_id").isin(ids))
        return sim.knn_lsh(corpus, queries, DIM, k=K, n_tables=LSH_TABLES, n_bits=LSH_BITS).collect()

    def knn_topk(self) -> int:
        """One ``knn_lsh`` batch; returns the table rows it searched."""
        wl, tracer = self.wl, self.ctx.tracer
        b = self.n_reads % len(self.batches)
        self.n_reads += 1
        ids = self.batches[b]
        rows = wl.timed("op", self._knn, ids, label="knn_topk")
        got: dict[int, list[int]] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append(r["neighbor_id"])
        self.results.append((b, got))
        planes = tracer.stash.pop("lsh_planes", None)
        if tracer.enabled and planes is not None:
            per_q = layers.lsh_candidates_per_query(self.vecs, ids, *planes)
            tracer.count("knn.candidates", per_q * len(ids))
            tracer.count("knn.queries", len(ids))
            want = self.exact(ids)
            tracer.count("knn.hits", sum(len(set(got.get(q, [])) & set(want[q])) for q in ids))
            tracer.count("knn.expected", sum(len(want[q]) for q in ids))
        return self.rows

    def exact(self, ids) -> dict[int, list[int]]:
        """Exact cosine top-k per query, itself excluded (NumPy)."""
        v = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        out = {}
        for q in ids:
            s = v @ v[q]
            s[q] = -np.inf
            out[q] = [int(x) for x in np.lexsort((np.arange(len(s)), -s))[:K]]
        return out

    def finish(self) -> None:
        """Recall of every ``knn_lsh`` batch against ``knn_bruteforce``."""
        wl = self.wl
        used = sorted({b for b, _ in self.results})
        ids = sorted({q for b in used for q in self.batches[b]})
        if not ids:
            return
        sim = self.ctx.pkg["similarity"]
        corpus = self.catalog.load_table("cur.vecs").to_df()
        ref_rows = sim.knn_bruteforce(corpus, corpus.filter(F.col("vec_id").isin(ids)), k=K).collect()
        ref: dict[int, list[int]] = {}
        for r in sorted(ref_rows, key=lambda r: (r["query_id"], r["rank"])):
            ref.setdefault(r["query_id"], []).append(r["neighbor_id"])
        wl.check(ref == self.exact(ids), "knn_bruteforce differs from the exact NumPy top-k")
        for b, got in self.results:
            hits = sum(len(set(got.get(q, [])) & set(ref.get(q, []))) for q in self.batches[b])
            recall = hits / (K * len(self.batches[b]))
            wl.check(recall >= RECALL_FLOOR, f"knn_lsh batch {b}: recall@{K} {recall:.3f} < {RECALL_FLOOR}")
