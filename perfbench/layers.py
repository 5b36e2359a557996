"""The engine's layers as the traced run sees them: which public names get
a span, which counters each span feeds, and how spans and counters turn
into the per-layer metrics.

Every per-layer metric is reported on every workload; a layer the
workload does not reach reads 0. Times are seconds per call of the named
function (``*_self_s``: minus the time of traced calls it made), counts
are per call unless named ``*_per_op``, ratios are taken over all traced
calls of the run.
"""

from __future__ import annotations

import json
import os

import numpy as np

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

# span name -> per-call time metric
SPAN_TIMES = {
    "sources.file_checksums": "sources.file_checksums_s",
    "functions.normalize": "functions.normalize_s",
    "functions.check_quality": "functions.check_quality_s",
    "operators.dedup_against_table": "operators.dedup_against_table_s",
    "table.append": "table.append_s",
    "table.snapshot": "table.snapshot_s",
    "table.scan": "table.scan_s",
    "maintenance.expire_snapshots": "maintenance.expire_snapshots_s",
    "maintenance.compact": "maintenance.compact_s",
    "catalog.sql": "catalog.sql_dispatch_s",
    "catalog.register_views": "catalog.register_views_s",
    "catalog.refresh_mv": "catalog.refresh_mv_s",
    "dml.merge_into": "dml.merge_into_s",
    "dml.update_where": "dml.update_where_s",
    "dml.delete_where": "dml.delete_where_s",
    "operators.knn_lsh": "operators.knn_lsh_s",
}


def _data_files(snap) -> dict[str, int]:
    return {e["path"]: int(e.get("bytes", 0)) for e in snap.data_entries}


def install(tracer, pkg) -> None:
    """Wrap the engine's public names. ``pkg`` maps short names to the
    imported engine modules (ingest, catalog, table, dml, maintenance,
    files, similarity)."""
    ingest, catalog, table = pkg["ingest"], pkg["catalog"], pkg["table"]
    dml, maint, files = pkg["dml"], pkg["maintenance"], pkg["files"]
    sim = pkg["similarity"]
    C = tracer.count
    T = table.LakehouseTable

    tracer.patch(ingest.IngestPipeline, "run", "ingest.run")

    def hashed(spark, path, *a, **kw):
        C("sources.files_hashed", sum(
            n.endswith(".parquet") for _, _, fs in os.walk(path) for n in fs
        ))

    tracer.patch(files, "file_checksums", "sources.file_checksums", before=hashed)
    tracer.patch(ingest, "normalize", "functions.normalize")
    tracer.patch(ingest, "check_quality", "functions.check_quality")

    tracer.patch(ingest, "dedup_against_table", "operators.dedup_against_table")

    def commit_hook(self, snap):
        if tracer.in_span("table.append"):
            C("table.append_commit_attempts")

    tracer.hook(T, "_commit", commit_hook)

    def append_after(snap, _ctx, self, *a, **kw):
        added = int(snap.summary.get("added_files", 0))
        C("table.append_files_written", added)
        C("table.append_bytes_written", sum(
            int(e.get("bytes", 0)) for e in snap.manifest[len(snap.manifest) - added:]
        ))

    tracer.patch(T, "append", "table.append", after=append_after)

    def snapshot_after(snap, _ctx, *a, **kw):
        C("table.manifests", max(1, len(snap.manifest_files)))

    tracer.patch(T, "snapshot", "table.snapshot", after=snapshot_after)

    def scan_before(self, selected_fields=None, snapshot=None, file_filter=None):
        snap = snapshot or T.snapshot.__wrapped__(self)
        entries = snap.data_entries
        kept = len(entries) if file_filter is None else sum(1 for e in entries if file_filter(e))
        C("table.scan_files_total", len(entries))
        C("table.scan_files_kept", kept)
        if tracer.parent_name() == "operators.dedup_against_table":
            C("operators.dedup_key_files_total", len(entries))
            C("operators.dedup_key_files_kept", kept)

    tracer.patch(T, "scan", "table.scan", before=scan_before)

    def expired_after(res, _ctx, *a, **kw):
        C("maintenance.snapshots_expired", int(res.get("expired_snapshots", 0)))

    tracer.patch(maint, "expire_snapshots", "maintenance.expire_snapshots", after=expired_after)
    tracer.patch(ingest, "expire_snapshots", "maintenance.expire_snapshots", after=expired_after)

    def compact_after(snap, _ctx, *a, **kw):
        if snap is not None:
            C("maintenance.compact_bytes_rewritten", int(snap.summary.get("rewritten_bytes", 0)))

    tracer.patch(maint, "compact", "maintenance.compact", after=compact_after)

    def sql_after(df, _ctx, *a, **kw):
        tracer.capture_frame(df)

    tracer.patch(catalog.LakehouseCatalog, "sql", "catalog.sql", after=sql_after)
    tracer.patch(catalog.LakehouseCatalog, "register_views", "catalog.register_views")
    tracer.patch(catalog.LakehouseCatalog, "refresh_materialized_view", "catalog.refresh_mv")

    def full_refresh(*a, **kw):
        if tracer.in_span("catalog.refresh_mv"):
            C("catalog.refresh_mv_full")

    tracer.hook(dml, "overwrite_partitions", full_refresh)
    tracer.hook(dml, "truncate_table", full_refresh)

    def dml_before(tbl, *a, **kw):
        if tracer.parent_name() != "catalog.sql":
            return None  # MV-internal merges are the refresh's business
        return _data_files(T.snapshot.__wrapped__(tbl))

    def dml_after(res, before, tbl, *a, **kw):
        if before is None:
            return
        after = _data_files(T.snapshot.__wrapped__(tbl))
        C("dml.files_before", len(before))
        C("dml.files_rewritten", len(set(before) - set(after)))
        C("dml.bytes_added", sum(b for p, b in after.items() if p not in before))

    for verb in ("merge_into", "update_where", "delete_where"):
        tracer.patch(dml, verb, f"dml.{verb}", before=dml_before, after=dml_after)

    def planes_before(planes, n_tables, n_bits):
        tracer.stash["lsh_planes"] = (np.asarray(planes), n_tables, n_bits)

    tracer.hook(sim, "_bucket_udf", planes_before)
    tracer.patch(sim, "knn_lsh", "operators.knn_lsh")


def lsh_candidates_per_query(vectors: np.ndarray, query_ids, planes, n_tables: int, n_bits: int) -> float:
    """Mean corpus rows sharing a sign-sketch bucket with each query in
    any table, itself excluded - the candidate set ``knn_lsh`` re-ranks,
    recomputed from the hyperplanes the engine drew."""
    bits = (vectors @ planes.T) >= 0.0
    weights = 1 << np.arange(n_bits - 1, -1, -1)
    keys = np.stack(
        [bits[:, t * n_bits:(t + 1) * n_bits] @ weights for t in range(n_tables)], axis=1
    )
    total = 0
    for q in query_ids:
        hit = (keys == keys[q]).any(axis=1)
        total += int(hit.sum()) - 1
    return total / max(1, len(query_ids))


def per_layer_metrics(tracer, session_build_s: float, overhead_ratio: float) -> dict[str, tuple[float, str]]:
    """Every ``per_layer`` metric of BENCHMARK.json, in its order and unit."""
    calls, totals, c = tracer.calls, tracer.totals, tracer.counts
    ops = max(1, tracer.ops_traced)
    out: dict[str, float] = {}

    def per_call(span: str, value: float) -> float:
        return value / calls[span] if calls.get(span) else 0.0

    def ratio(num: str, den: str) -> float:
        return c[num] / c[den] if c.get(den) else 0.0

    for span, metric in SPAN_TIMES.items():
        out[metric] = per_call(span, totals.get(span, 0.0))
    selfs = tracer.self_totals()
    out["ingest.run_self_s"] = per_call("ingest.run", selfs.get("ingest.run", 0.0))
    out["session.build_s"] = session_build_s
    out["sources.files_hashed"] = per_call("ingest.run", c["sources.files_hashed"])
    out["operators.dedup_key_files_ratio"] = ratio(
        "operators.dedup_key_files_kept", "operators.dedup_key_files_total")
    for k in ("append_commit_attempts", "append_files_written", "append_bytes_written"):
        out[f"table.{k}"] = per_call("table.append", c[f"table.{k}"])
    out["table.scan_files_kept_ratio"] = ratio("table.scan_files_kept", "table.scan_files_total")
    out["table.manifests_per_snapshot"] = per_call("table.snapshot", c["table.manifests"])
    out["maintenance.snapshots_expired"] = per_call(
        "maintenance.expire_snapshots", c["maintenance.snapshots_expired"])
    out["maintenance.compact_bytes_rewritten"] = per_call(
        "maintenance.compact", c["maintenance.compact_bytes_rewritten"])
    out["catalog.refresh_mv_incremental_share"] = (
        1.0 - c["catalog.refresh_mv_full"] / calls["catalog.refresh_mv"]
        if calls.get("catalog.refresh_mv") else 0.0
    )
    out["dml.files_rewritten_ratio"] = ratio("dml.files_rewritten", "dml.files_before")
    out["dml.bytes_written_per_changed_row"] = ratio("dml.bytes_added", "dml.changed_rows")
    out["operators.knn_lsh_candidates_per_query"] = ratio("knn.candidates", "knn.queries")
    out["operators.knn_lsh_recall_at_k"] = ratio("knn.hits", "knn.expected")
    for ph in ("analysis", "optimization", "planning"):
        out[f"spark.{ph}_s"] = c[f"spark.{ph}_s"] / ops
    out["spark.jobs_per_op"] = c["spark.jobs"] / ops
    out["spark.stages_per_op"] = c["spark.stages"] / ops
    out["spark.tasks_per_op"] = c["spark.tasks"] / ops
    out["spark.failed_tasks"] = c["spark.failed_tasks"]
    out["spark.executor_run_s"] = c["spark.executor_run_s"] / ops
    out["spark.shuffle_write_bytes"] = c["spark.shuffle_write_bytes"] / ops
    out["trace.ops_traced"] = float(tracer.ops_traced)
    out["trace.overhead_ratio"] = overhead_ratio
    with open(SPEC) as f:
        spec = json.load(f)["per_layer"]
    return {m["name"]: (float(out[m["name"]]), m["unit"]) for m in spec}
