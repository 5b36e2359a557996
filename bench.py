#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "queries_median": {...}, "queries_min": {...}, "sf": ...}

``value`` and ``queries`` are COLD first-run times (comparable to
BASELINE.md and every prior BENCH_r*.json, which recorded one cold
sample). Each query then re-runs so ``queries_median``/``queries_min``
(over all runs incl. the cold one) separate real plan regressions from
first-touch JVM/codegen noise - VERDICT r4 flagged 26-54% single-sample
swings on untouched code that a 1-sample bench cannot classify.

Each run fully executes and materializes via count, so lazy plans can't
cheat. Session build time is excluded; per-query times include plan +
execute.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per plan shape that matters at 100 TB.
HEADLINE = [
    "q01_pricing_summary",        # scan + hash agg
    "q03_shipping_priority",      # broadcast join + agg + topk
    "q05_region_revenue",         # multi-way star join
    "q06_forecast_revenue",       # pushed-down filter scan
    "q13_top_orders_per_customer",  # window topk
    "q16_status_priority_rollup",   # rollup
    "q30_events_tumbling_1h",     # event-time tumbling window
    "q32_events_sessionization",  # sessionization windows
    "q41_dedup_token_jaccard",    # explode + self-join near-dup
    "q43_token_frequency",        # explode + two-level agg
    "q50_knn_bruteforce",         # vector similarity topk
    "q51_embedding_norms_by_label",  # higher-order array agg
]


def bench_ingest(spark, sf_dir: str) -> float:
    """Write-path benchmark: lineitem through the snapshot table format
    (create + partitioned append + full scan-back), timed end to end."""
    import shutil
    import tempfile

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )

    wh = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        t0 = time.perf_counter()
        cat = LakehouseCatalog(spark, wh)
        cat.create_namespace("bench")
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        t = cat.create_table("bench.lineitem", df.schema)
        t.append(df)
        n = t.to_df().count()
        dt = time.perf_counter() - t0
        print(f"# ingest_lineitem: {n} rows in {dt:.2f}s", file=sys.stderr)
        return round(dt, 3)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def bench_depth(spark, sf_dir: str) -> dict[str, float]:
    """Depth-tier benchmarks (r11, VERDICT r10 #6): one timed sample
    each for the hot post-r7 surfaces, reported under the separate
    ``depth`` key so the headline total stays baseline-comparable.

    - ``mv_star_full_materialize``: CREATE MATERIALIZED VIEW over an
      orders-customer-nation star = the FULL-refresh cost (query +
      write + pins) the CDC tier is measured against.
    - ``mv_join_cdc_refresh``: a dim UPDATE refreshed through the
      signed-changelog CDC tier. NOTE: at sf0.1 the CDC refresh can
      read SLOWER than the full materialize - fixed costs (changelog
      scan, view binds, checkpoint, MERGE commit) dominate a 150k-row
      star. The entry tracks the TREND; the tier's win is asymptotic
      (shuffle/compute O(changelog matches) vs O(star), and the MERGE
      rewrites only matching MV groups).
    - ``merge_multi_clause``: the Delta WHEN MATCHED matrix (DELETE /
      column SET / row replace / conditioned column-list INSERT) over
      the orders-scale table, one atomic commit.
    - ``scd2_apply``: a CDC batch touching ~10% of a customer-scale
      dimension through apply_changes_scd2 (one MERGE, full history).
    - ``quality_classifier_score``: plan-literal scoring fold over the
      documents corpus (fit on the bounded sample is untimed).
    - ``mv_sketch_union_refresh``: an orders append refreshed into an
      APPROX_COUNT_DISTINCT MV by HLL union (r11) - O(delta + touched
      groups) vs the full re-aggregation.
    """
    import shutil
    import tempfile

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        apply_changes_scd2,
        scd2_target_schema,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.quality_classifier import (
        quality_classifier_fit,
        quality_classifier_score,
    )
    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    wh = tempfile.mkdtemp(prefix="bench_depth_")
    try:
        cat = LakehouseCatalog(spark, wh)
        cat.create_namespace("bench")
        # ---- star MV setup (untimed): orders JOIN customer JOIN nation
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_nationkey"
        )
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            "n_nationkey", "n_name"
        )
        f = cat.create_table("bench.sorders", orders.schema)
        f.append(orders)
        d1 = cat.create_table("bench.scustomer", cust.schema)
        d1.append(cust)
        d2 = cat.create_table("bench.snation", nation.schema)
        d2.append(nation)
        q = (
            "SELECT n_name, COUNT(*) AS n_orders, "
            "SUM(o_custkey) AS sum_cust "
            "FROM bench_sorders "
            "JOIN bench_scustomer "
            "ON bench_sorders.o_custkey = bench_scustomer.c_custkey "
            "JOIN bench_snation "
            "ON bench_scustomer.c_nationkey = bench_snation.n_nationkey "
            "GROUP BY n_name"
        )
        t0 = time.perf_counter()
        cat.create_materialized_view("bench.star_mv", q)
        out["mv_star_full_materialize"] = round(time.perf_counter() - t0, 3)
        # ---- dim update -> CDC refresh (timed; flag printed)
        cat.sql(
            "UPDATE bench.snation SET n_name = concat('Z_', n_name) "
            "WHERE n_nationkey % 5 = 0"
        )
        t0 = time.perf_counter()
        snap = cat.refresh_materialized_view("bench.star_mv")
        out["mv_join_cdc_refresh"] = round(time.perf_counter() - t0, 3)
        print(
            f"# mv_join_cdc_refresh: cdc_refresh="
            f"{snap.summary.get('cdc_refresh')} "
            f"({out['mv_join_cdc_refresh']:.2f}s vs full "
            f"{out['mv_star_full_materialize']:.2f}s)",
            file=sys.stderr,
        )
        # ---- BOTH dims move in one window -> telescoping refresh
        # (timed; K terms, K-general since r13). The customer re-key
        # touches ~9% of fact matches, the nation rename ~20% of
        # groups - each term is a broadcast changelog join, so the
        # pair should land near 2x the single-dim entry, never near
        # the full materialize.
        cat.sql(
            "UPDATE bench.scustomer "
            "SET c_nationkey = (c_nationkey + 1) % 25 "
            "WHERE c_custkey % 11 = 0"
        )
        cat.sql(
            "UPDATE bench.snation SET n_name = concat('Y_', n_name) "
            "WHERE n_nationkey % 5 = 1"
        )
        t0 = time.perf_counter()
        snap = cat.refresh_materialized_view("bench.star_mv")
        out["mv_multi_dim_cdc_refresh"] = round(
            time.perf_counter() - t0, 3
        )
        print(
            f"# mv_multi_dim_cdc_refresh: cdc_refresh="
            f"{snap.summary.get('cdc_refresh')} "
            f"({out['mv_multi_dim_cdc_refresh']:.2f}s, two moved dims)",
            file=sys.stderr,
        )
        # ---- cost-based chooser (r14, VERDICT r13 #2): same dim-moved
        # shape, but with mv.refresh.cost-based=true the manifest-stat
        # estimate sees a ~150k-row star under the 500k-row per-term
        # floor and takes the FULL overwrite path - this entry should
        # track mv_star_full_materialize, not the CDC fixed floor.
        mv_t = cat.load_table("bench.star_mv")
        mv_t.set_properties(**{"mv.refresh.cost-based": "true"})
        cat.sql(
            "UPDATE bench.snation SET n_name = concat('X_', n_name) "
            "WHERE n_nationkey % 5 = 2"
        )
        est = cat.mv_refresh_estimate("bench.star_mv")
        t0 = time.perf_counter()
        cat.refresh_materialized_view("bench.star_mv")
        out["mv_cost_based_refresh"] = round(time.perf_counter() - t0, 3)
        print(
            f"# mv_cost_based_refresh: choice={est['choice']} "
            f"(full_rows={est['full_rows']}, "
            f"inc_rows={est['incremental_rows']}) "
            f"{out['mv_cost_based_refresh']:.2f}s vs materialize "
            f"{out['mv_star_full_materialize']:.2f}s",
            file=sys.stderr,
        )
        mv_t.set_properties(**{"mv.refresh.cost-based": "false"})
        # ---- multi-clause MERGE over the orders-scale table (timed)
        src = orders.select(
            "o_orderkey",
            (F.col("o_custkey") + 1).alias("o_custkey"),
            F.col("o_totalprice"),
        ).filter(F.col("o_orderkey") % 3 == 0)
        new_keys = orders.filter(F.col("o_orderkey") % 5 == 0).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            "o_custkey",
            "o_totalprice",
        )
        src.unionByName(new_keys).createOrReplaceTempView(
            "bench_merge_src"
        )
        t0 = time.perf_counter()
        cat.sql(
            "MERGE INTO bench.sorders USING bench_merge_src s "
            "ON bench.sorders.o_orderkey = s.o_orderkey "
            "WHEN MATCHED AND bench.sorders.o_totalprice > 200000 "
            "THEN DELETE "
            "WHEN MATCHED AND bench.sorders.o_totalprice > 100000 "
            "THEN UPDATE SET o_custkey = s.o_custkey "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED AND s.o_custkey % 2 = 0 THEN "
            "INSERT (o_orderkey, o_custkey) "
            "VALUES (s.o_orderkey, s.o_custkey)"
        )
        out["merge_multi_clause"] = round(time.perf_counter() - t0, 3)
        print(
            f"# merge_multi_clause: {out['merge_multi_clause']:.2f}s",
            file=sys.stderr,
        )
        # ---- SCD2 apply: CDC batch over a customer-scale dim (timed)
        dim_rows = spark.read.parquet(
            f"{sf_dir}/customer.parquet"
        ).select("c_custkey", "c_nationkey", "c_acctbal")
        seed = dim_rows.select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.lit("insert").alias("_change_type"),
            F.lit(1).cast("long").alias("_change_version"),
        )
        scd = cat.create_table(
            "bench.scd_customer", scd2_target_schema(seed)
        )
        apply_changes_scd2(scd, seed, key="c_custkey")
        batch = dim_rows.filter(F.col("c_custkey") % 10 == 0).select(
            "c_custkey",
            ((F.col("c_nationkey") + 1) % 25).alias("c_nationkey"),
            (F.col("c_acctbal") + 1).alias("c_acctbal"),
            F.lit("update_postimage").alias("_change_type"),
            F.lit(2).cast("long").alias("_change_version"),
        )
        t0 = time.perf_counter()
        apply_changes_scd2(scd, batch, key="c_custkey")
        out["scd2_apply"] = round(time.perf_counter() - t0, 3)
        print(f"# scd2_apply: {out['scd2_apply']:.2f}s", file=sys.stderr)
        # ---- quality-classifier scoring fold (fit untimed)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        model = quality_classifier_fit(
            docs.withColumn(
                "__label", (F.col("lang") == "en").cast("int")
            ),
            "__label",
            sample=500,
        )
        t0 = time.perf_counter()
        n = quality_classifier_score(docs, model).agg(
            F.count("quality_score"),
            F.sum("quality_score"),
        ).collect()[0][0]
        out["quality_classifier_score"] = round(
            time.perf_counter() - t0, 3
        )
        print(
            f"# quality_classifier_score: {n} docs in "
            f"{out['quality_classifier_score']:.2f}s",
            file=sys.stderr,
        )
        # ---- sketch-MV union refresh (r11): distinct custkeys per
        # status; the append refreshes by HLL union - O(delta +
        # touched groups), never a base re-scan
        o2 = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderstatus", "o_custkey"
        )
        so = cat.create_table("bench.aorders", o2.schema)
        so.append(o2.filter(F.col("o_orderkey") % 4 != 0))
        cat.create_materialized_view(
            "bench.approx_mv",
            "SELECT o_orderstatus, COUNT(*) AS n, "
            "APPROX_COUNT_DISTINCT(o_custkey) AS du "
            "FROM bench_aorders GROUP BY o_orderstatus",
        )
        so.append(o2.filter(F.col("o_orderkey") % 4 == 0))
        t0 = time.perf_counter()
        snap = cat.refresh_materialized_view("bench.approx_mv")
        out["mv_sketch_union_refresh"] = round(
            time.perf_counter() - t0, 3
        )
        print(
            f"# mv_sketch_union_refresh: op={snap.operation} "
            f"({out['mv_sketch_union_refresh']:.2f}s)",
            file=sys.stderr,
        )
        # ---- KLL quantile-MV merge refresh (r11 late): per-status
        # median order value; the append refreshes by KLL sketch merge
        cat.create_materialized_view(
            "bench.kll_mv",
            "SELECT o_orderstatus, COUNT(*) AS n, "
            "APPROX_PERCENTILE(o_custkey, 0.5) AS med_cust "
            "FROM bench_aorders GROUP BY o_orderstatus",
        )
        so.append(
            o2.filter(F.col("o_orderkey") % 4 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 100_000_000
            )
        )
        t0 = time.perf_counter()
        snap = cat.refresh_materialized_view("bench.kll_mv")
        out["mv_kll_merge_refresh"] = round(
            time.perf_counter() - t0, 3
        )
        print(
            f"# mv_kll_merge_refresh: op={snap.operation} "
            f"({out['mv_kll_merge_refresh']:.2f}s)",
            file=sys.stderr,
        )
        # ---- multi-table transaction (r12): orders + its audit row
        # land all-or-nothing; the timed span covers staging (the
        # distributed write), the commit-record swap (one rename), and
        # both metadata-only publishes - against the two-plain-appends
        # baseline this costs ONE extra rename + two summary stamps
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        txd = cat.create_table("bench.txn_orders", o2.schema)
        txa = cat.create_table(
            "bench.txn_ops",
            StructType(
                [
                    StructField("run", StringType()),
                    StructField("n", LongType()),
                ]
            ),
        )
        n_rows = o2.count()
        t0 = time.perf_counter()
        with cat.transaction() as txn:
            txn.append("bench.txn_orders", o2)
            txn.append(
                "bench.txn_ops",
                spark.createDataFrame([("bench", n_rows)], txa.schema),
            )
        out["txn_two_table_commit"] = round(time.perf_counter() - t0, 3)
        print(
            f"# txn_two_table_commit: {n_rows} rows + audit in "
            f"{out['txn_two_table_commit']:.2f}s",
            file=sys.stderr,
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return out


def main() -> None:
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.queries import QUERIES
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="lakehouse-bench")
    # Untimed warm-up pass (protocol parity with BASELINE.md, which was
    # recorded on a warm box): byte-read EVERY input parquet into the OS
    # page cache, then one Spark count to warm the JVM/codegen path.
    # Without this, whatever ran before the bench (long pytest sweeps,
    # the driver's correctness pass) evicts the sf inputs and every
    # query pays real disk I/O - r6/r7 saw +25-90% median drift on
    # untouched plans from this alone.
    t0 = time.perf_counter()
    warmed_bytes = 0
    for fname in sorted(os.listdir(SF_DIR)):
        if not fname.endswith(".parquet"):
            continue
        with open(os.path.join(SF_DIR, fname), "rb") as f:
            while True:
                chunk = f.read(1 << 24)
                if not chunk:
                    break
                warmed_bytes += len(chunk)
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    print(
        f"# warm-up: paged in {warmed_bytes / (1 << 20):.0f} MiB from "
        f"{SF_DIR} in {time.perf_counter() - t0:.2f}s (untimed)",
        file=sys.stderr,
    )

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    times: dict[str, float] = {}
    medians: dict[str, float] = {}
    mins: dict[str, float] = {}
    for name in HEADLINE:
        samples = []
        n = -1
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, SF_DIR)
            n = df.count()
            samples.append(time.perf_counter() - t0)
        times[name] = round(samples[0], 3)  # cold: baseline-comparable
        medians[name] = round(statistics.median(samples), 3)
        mins[name] = round(min(samples), 3)
        print(
            f"# {name}: {n} rows; cold {times[name]:.2f}s "
            f"median {medians[name]:.2f}s min {mins[name]:.2f}s",
            file=sys.stderr,
        )
    times["ingest_lineitem"] = bench_ingest(spark, SF_DIR)
    medians["ingest_lineitem"] = mins["ingest_lineitem"] = times[
        "ingest_lineitem"
    ]  # write path: one sample (re-running would re-create the table)
    # depth-tier entries live under their own key: adding them to
    # `queries` would inflate the baseline-comparable headline total
    depth = bench_depth(spark, SF_DIR)

    # Calibration probe (VERDICT r11 #5): three r11 readings on
    # IDENTICAL code spanned 14.25-17.66s - the box-state noise floor
    # is wider than a real round-over-round delta. Re-time q01 once at
    # the very END of the run (worst box state: after the write-path +
    # depth tiers) and publish the drift ratio vs its in-run median, so
    # a verdict can separate "slow box" (drift >> 1 with unchanged
    # plans) from "plan regression" (drift ~1 but totals up) without a
    # judge re-run.
    t0 = time.perf_counter()
    QUERIES["q01_pricing_summary"](spark, SF_DIR).count()
    q01_end = round(time.perf_counter() - t0, 3)
    # CPU clock at bench time: NOTES r8 + r12 both caught the box
    # throttled to 2.1 GHz producing +40-70% totals on identical plans
    # - the single biggest box-state confounder, now recorded.
    cpu_mhz = None
    try:
        with open("/proc/cpuinfo") as f:
            mhz = [
                float(line.split(":")[1])
                for line in f
                if line.lower().startswith("cpu mhz")
            ]
        if mhz:
            cpu_mhz = round(sum(mhz) / len(mhz), 0)
    except (OSError, ValueError, IndexError):
        pass  # calibration extras must never kill a finished run
    # cpufreq governor (VERDICT r13 #7): distinguishes "throttled by
    # policy" from "idle-slow" in driver-to-driver comparisons; absent
    # (None) on boxes/VMs without cpufreq, like a cloud sandbox.
    cpu_governor = None
    try:
        with open(
            "/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor"
        ) as f:
            cpu_governor = f.read().strip()
    except OSError:
        pass
    # Pure-Python CPU spin (VERDICT r14 #10): a fixed 20M-add loop, no
    # Spark, no I/O - the host-contention control r14 ran ad hoc in
    # NOTES (it oscillated 1.6-2.7s across minutes on the same box).
    # Recorded so a comparator can see host state without NOTES
    # archaeology; ~1.4-2s of untimed overhead at the very end.
    t0 = time.perf_counter()
    _acc = 0
    for _i in range(20_000_000):
        _acc += _i
    spin_sec = round(time.perf_counter() - t0, 3)
    calibration = {
        "probe": "q01_pricing_summary",
        "cold": times["q01_pricing_summary"],
        "median": medians["q01_pricing_summary"],
        "end_of_run": q01_end,
        "drift_end_over_median": round(
            q01_end / medians["q01_pricing_summary"], 3
        ),
        "cpu_mhz": cpu_mhz,
        "cpu_governor": cpu_governor,
        "spin_sec": spin_sec,
    }
    print(f"# calibration: {calibration}", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "queries_median": medians,
        "queries_min": mins,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # protocol era marker (VERDICT r8 #6): r8+ numbers are recorded
        # after an untimed page-in of every input parquet; pre-r8 BENCH
        # files (no protocol field) mixed cold-cache runs and are not
        # comparable sample-for-sample.
        "protocol": "warm-page-cache",
        "warmup_mib": round(warmed_bytes / (1 << 20), 1),
        # r12+: warm-floor total (sum of per-query min samples over the
        # HEADLINE reads only) - the box-state-independent second
        # reading VERDICT r11 #5 asked for; compare value_min
        # round-over-round for plan regressions, `value` (cold) against
        # BASELINE. ingest_lineitem is EXCLUDED: its single one-shot
        # sample is itself cold, and summing it back in would re-inject
        # exactly the write-path box noise this field factors out
        # (review r12).
        "value_min": round(
            sum(v for k, v in mins.items() if k != "ingest_lineitem"),
            3,
        ),
        # r12+: end-of-run q01 probe + drift ratio vs in-run median
        "calibration": calibration,
        # r11+: depth-tier surfaces (MV CDC refresh vs full, MERGE
        # matrix, SCD2, classifier scoring) - one cold sample each,
        # excluded from `value` for baseline comparability
        "depth": depth,
        # the session the numbers came from, as Spark resolved it
        "master": spark.sparkContext.master,
        "parallelism": spark.sparkContext.defaultParallelism,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
