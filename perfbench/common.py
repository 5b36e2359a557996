"""Statistics, host facts and storage accounting shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics

TAIL_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the same rule as NumPy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int) -> float:
    """The highest percentile that leaves at least ``TAIL_BEYOND`` of
    ``n`` samples strictly above its rank, floored at the median: below
    ``2 * TAIL_BEYOND`` samples the tail is reported at p50."""
    if n <= 0:
        raise ValueError("tail of no samples")
    # rank (0-based) of the highest sample with TAIL_BEYOND samples after it
    rank = n - 1 - TAIL_BEYOND
    pct = 100.0 * rank / (n - 1) if n > 1 else 0.0
    return max(50.0, pct)


def latency_summary(values: list[float]) -> dict:
    p = tail_pct(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "tail": percentile(values, p),
        "tail_pct": p,
    }


# -- host facts ---------------------------------------------------------------


def cpu_mhz() -> float:
    mhz = []
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.lower().startswith("cpu mhz"):
                mhz.append(float(line.split(":")[1]))
    return statistics.mean(mhz) if mhz else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mib() -> dict[str, float]:
    """High-water resident set, in MiB: ``driver`` is this Python process
    plus the driver JVM; ``workers`` the Python worker processes Spark
    forked, whose number varies with task scheduling."""
    me = os.getpid()
    out = {"driver": _vm_hwm_kib(me) / 1024.0, "workers": 0.0}
    for p in descendants(me):
        key = "driver" if _comm(p) == "java" else "workers"
        out[key] += _vm_hwm_kib(p) / 1024.0
    return out


# -- storage accounting -------------------------------------------------------


def tree_state(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (size, mtime_ns, inode) for every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for n in files:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or were rewritten between two states."""
    return sum(s[0] for p, s in after.items() if before.get(p) != s)


def tree_bytes(state: dict) -> int:
    return sum(s[0] for s in state.values())


def live_data_bytes(catalog) -> int:
    """Bytes of the data files the current snapshot of every table in the
    warehouse references."""
    total = 0
    for ns in catalog.list_namespaces():
        for ident in catalog.list_tables(ns):
            snap = catalog.load_table(ident).snapshot()
            total += sum(int(e.get("bytes", 0)) for e in snap.data_entries)
    return total


def group(values: list[float], labels: list[str]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for v, k in zip(values, labels):
        out.setdefault(k, []).append(v)
    return out


def tracing_overhead(values: list[float], labels: list[str], traced: list[bool]) -> float:
    """Median, over the kinds of operation that ran both ways, of the
    traced p50 over the untraced p50, minus one; 0 when no kind did."""
    on = group([v for v, t in zip(values, traced) if t], [k for k, t in zip(labels, traced) if t])
    off = group([v for v, t in zip(values, traced) if not t], [k for k, t in zip(labels, traced) if not t])
    ratios = [statistics.median(on[k]) / statistics.median(off[k]) for k in on if k in off]
    return statistics.median(ratios) - 1.0 if ratios else 0.0
