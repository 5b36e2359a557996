#!/usr/bin/env python3
"""Run one workload of the lakehouse benchmark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a checkout of the repository. One process drives
the engine's public API through one SparkSession on ``local[N]`` with
``N = min(4, nproc)`` and a 1 GiB driver heap. The workload's inputs are
generated from ``--seed`` under ``.perfbench_work/`` in the checkout,
which is deleted at the end.

With ``--trace 0`` the last stdout line is the end-to-end result; with
``--trace 1`` every other cycle of the mix runs with spans on and the last line
holds the per-layer metrics plus the tracing overhead. Lines before it
describe the run (environment, sample counts, tail percentiles) and
print every metric by name and unit. Exits non-zero without a result if
the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "apache_iceberg_pyiceberg_local_data_lakehouse_spark"
WORKLOADS = ("tick_ingest", "lake_query", "upsert_mix")
CPUS = 4
DRIVER_MEM = "1g"
TRACE_PAIRS = 2


def pin_environment(work: Path) -> int:
    """Settings the engine reads from its environment, fixed before it is
    imported. Returns the core count the session will use."""
    nproc = len(os.sched_getaffinity(0))
    cpus = min(CPUS, nproc)
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(work / "tmp"),
            # every JVM Spark starts, the launcher's too: temp files in the
            # checkout, no performance-counter file under /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "TZ": "UTC",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    time.tzset()
    return cpus


def make_workload(name: str, ctx):
    from perfbench.workloads.lake_query import LakeQuery
    from perfbench.workloads.tick_ingest import TickIngest
    from perfbench.workloads.upsert_mix import UpsertMix

    return {
        "tick_ingest": TickIngest,
        "lake_query": LakeQuery,
        "upsert_mix": UpsertMix,
    }[name](ctx)


class Context:
    """What a workload may use: the session, the engine modules, the
    tracer, its seed and work directory."""

    def __init__(self, spark, pkg, tracer, seed: int, work: str, small: bool):
        self.spark, self.pkg, self.tracer = spark, pkg, tracer
        self.seed, self.work, self.small = seed, work, small


def import_engine():
    import importlib

    names = {
        "session": "session",
        "ingest": "ingest",
        "catalog": "catalog",
        "table": "table",
        "dml": "dml",
        "maintenance": "maintenance",
        "files": "sources.files",
        "similarity": "operators.similarity",
    }
    return {k: importlib.import_module(f"{PACKAGE}.{m}") for k, m in names.items()}


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait for every child."""
    from pyspark import SparkContext

    from perfbench import common

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    for pid in common.descendants(os.getpid()):
        try:
            os.kill(pid, 15)
        except ProcessLookupError:
            pass
    deadline = time.time() + 30
    while common.descendants(os.getpid()) and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        time.sleep(0.1)


def run(args, work: Path, cpus: int) -> tuple[dict, list[str], bool, int, int]:
    from perfbench import common, layers
    from perfbench.trace import Tracer

    t_import = time.perf_counter()
    pkg = import_engine()
    import_s = time.perf_counter() - t_import

    t_session = time.perf_counter()
    spark = pkg["session"].get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.sql.warehouse.dir": str(work / "spark-warehouse")},
    )
    session_s = time.perf_counter() - t_session
    lines = []
    try:
        tracer = Tracer(spark)
        ctx = Context(spark, pkg, tracer, args.seed, str(work), args.small)
        wl = make_workload(args.workload, ctx)
        wl.generate()
        t0 = time.perf_counter()
        wl.setup()
        load_s = time.perf_counter() - t0
        setup_s = import_s + session_s + load_s
        wl.after_setup()

        if args.trace:
            # the overhead compares traced with untraced cycles, and the
            # first cycle after the warm-up still runs slower: one more
            # untimed cycle, so both kinds of cycle run warm
            for j in range(wl.CYCLE):
                wl.guarded(f"warm-up {j}", wl.step, -1 - j)
            wl.reset_samples()
            layers.install(tracer, pkg)
        # whole cycles of the workload's mix, so every run measures the
        # same mix; the traced run turns spans on for every other cycle,
        # starting with the first, and runs at least TRACE_PAIRS cycles
        # each way, since a one-operation cycle gives one sample per side
        cycle = wl.CYCLE
        deadline = time.perf_counter() + args.seconds
        i = 0
        while i % cycle or time.perf_counter() < deadline or (args.trace and i < 2 * TRACE_PAIRS * cycle):
            traced = bool(args.trace) and (i // cycle) % 2 == 0
            if traced:
                tracer.begin_op(i)
                with tracer.span("op"):
                    wl.guarded(f"op {i}", wl.step, i)
                tracer.end_op()
            else:
                wl.guarded(f"op {i}", wl.step, i)
            i += 1
        tracer.unpatch()
        wl.guarded("final checks", wl.finish)

        op = wl.samples.get("op", [])
        read = wl.read_samples()
        if not op:
            raise RuntimeError(f"no operation completed in {args.seconds}s")
        busy = sum(sum(v) for v in wl.samples.values())
        lines.append(
            f"env: master={spark.sparkContext.master} defaultParallelism="
            f"{spark.sparkContext.defaultParallelism} nproc={len(os.sched_getaffinity(0))} "
            f"cpus_used={cpus} cpu_mhz={common.cpu_mhz():.1f} driver_mem={DRIVER_MEM} "
            f"storage=warehouse under the checkout, all inputs fit RAM and page cache"
        )
        lines.append(
            f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
            f"trace={args.trace} loop_steps={i} op=[{wl.OP}] read=[{wl.READ}] "
            f"import_s={import_s:.3f} session_s={session_s:.3f} load_s={load_s:.3f}"
        )
        for series, values in wl.samples.items():
            by_label = common.group(values, wl.labels[series])
            lines.append(f"{series} p50 by kind: " + ", ".join(
                f"{k}={statistics.median(v):.4f}s (n={len(v)})" for k, v in sorted(by_label.items())
            ))
        if args.trace:
            overhead = common.tracing_overhead(op, wl.labels["op"], wl.traced["op"])
            lines.append(
                f"tracing overhead: median over op kinds of traced/untraced p50 - 1 = {overhead:+.1%} "
                f"({sum(wl.traced['op'])} traced, {len(op) - sum(wl.traced['op'])} untraced ops)"
            )
            metrics = layers.per_layer_metrics(tracer, session_s, overhead)
            tracer.dump(str(ROOT / ".perfbench_out" / f"spans-{args.workload}-{args.seed}.json"))
        else:
            lat = common.latency_summary(op)
            lines.append(
                f"op latency: n={lat['n']} p50={lat['p50']:.4f}s tail=p{lat['tail_pct']:.1f} "
                f"{lat['tail']:.4f}s; read latency: n={len(read)} p50={statistics.median(read):.4f}s"
            )
            rss = common.peak_rss_mib()
            lines.append(f"peak rss: driver (Python + JVM) {rss['driver']:.0f} MiB, "
                         f"Python workers {rss['workers']:.0f} MiB")
            final = common.tree_state(wl.warehouse)
            live = common.live_data_bytes(wl.catalog)
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_s_p50": (lat["p50"], "s"),
                "ops_per_s": (len(op) / busy, "1/s"),
                "rows_per_s": (wl.items / busy, "rows/s"),
                "read_s_p50": (statistics.median(read), "s"),
                "bytes_written_per_input_byte": (wl.written / wl.input_bytes, "ratio"),
                "storage_bytes_per_live_byte": (common.tree_bytes(final) / live, "ratio"),
                "peak_rss_mib": (rss["driver"], "MiB"),
                "ops_ok_ratio": (1.0 - wl.failed / max(1, wl.attempted), "ratio"),
            }
            lines.append(f"ops_failed_ratio = {wl.failed / max(1, wl.attempted):.6f} ratio")
        correct = wl.failed == 0
        return metrics, lines, correct, wl.attempted, wl.failed
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs (smoke tests)")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (ROOT / ".perfbench_out").mkdir(exist_ok=True)
    cpus = pin_environment(work)
    sys.path.insert(0, str(ROOT))
    try:
        metrics, lines, correct, attempted, failed = run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's work directory is still there
    for line in lines:
        print(line)
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
