"""Seeded input generators for the workloads.

Everything here is NumPy/PyArrow only: the engine never sees the seed,
only the files and rows these functions produce. The same seed gives the
same files byte for byte (Parquet written with fixed settings) and the
same Python-side rows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
# every generated timestamp is UTC wall-clock microseconds, written
# without a zone so Spark and DuckDB read the same instant
TICK_EPOCH_US = 1_735_689_600 * US  # 2025-01-01T00:00:00


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` deterministically; returns the file size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd", write_statistics=True)
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# tick_ingest: tick-chunk files landing for a few symbols
# ---------------------------------------------------------------------------


def tick_table(start_us: int, n: int, rng: np.random.Generator, bad: bool = False) -> pa.Table:
    """``n`` ticks, one per 250 ms from ``start_us``. ``bad`` plants
    non-positive bids, which the quality check must reject."""
    ts = start_us + np.arange(n, dtype=np.int64) * 250_000
    bid = np.round(1.05 + rng.random(n) * 0.1, 5)
    if bad:
        bid[rng.choice(n, size=max(1, n // 50), replace=False)] = 0.0
    ask = np.round(bid + 0.0001 + rng.random(n) * 0.0002, 5)
    return pa.table(
        {
            "DateTime": pa.array(ts.astype("datetime64[us]")),
            "Bid": bid,
            "Ask": ask,
            "BidVolume": rng.integers(1, 1_000, n).astype(np.float64),
            "AskVolume": rng.integers(1, 1_000, n).astype(np.float64),
        }
    )


@dataclass
class LandedRun:
    """What one ingest run must report, as planted by the generator."""

    processed: int = 0
    skipped: int = 0
    rejected: int = 0
    rows_appended: int = 0
    bytes_landed: int = 0
    rows_landed: int = 0
    quarantine: list[str] = field(default_factory=list)


class TickLanding:
    """The landing zone of a tick feed.

    Per run and symbol the producer lands one new chunk that starts a few
    hundred ticks before the last committed tick (those overlap rows must
    be dropped by dedup). On a fixed schedule it re-drops a byte-identical
    copy of an ingested file under a new name (processed, zero new rows),
    or lands a chunk with non-positive bids alone (rejected, then
    quarantined); sizes, overlaps and prices come from the seed. The
    zone keeps the last ``keep`` ingested files per symbol, so every run
    also re-hashes files it must skip.
    """

    SYMBOLS = ("EURUSD", "GBPUSD")

    def __init__(self, root: str, seed: int, rows: int = 50_000, keep: int = 4):
        self.root = root
        self.seed = seed
        self.rows = rows
        self.keep = keep
        self.run_no = 0
        self.end_us = {s: TICK_EPOCH_US for s in self.SYMBOLS}
        self.committed = {s: 0 for s in self.SYMBOLS}
        self.ingested: dict[str, list[str]] = {s: [] for s in self.SYMBOLS}

    def _path(self, sym: str, name: str) -> str:
        return os.path.join(self.root, sym, name)

    def land(self) -> LandedRun:
        """Land the next run's files; returns the expected outcome."""
        r = self.run_no
        self.run_no += 1
        out = LandedRun()
        for si, sym in enumerate(self.SYMBOLS):
            g = rng_for(self.seed, 1, r, si)
            # producer retention: the zone holds the last `keep` ingested files
            while len(self.ingested[sym]) > self.keep:
                os.remove(self.ingested[sym].pop(0))
            out.skipped += len(self.ingested[sym])
            # a fixed schedule, so every seed runs the same mix of cases
            kind = "normal"
            if r > 0 and (r + 3 * si) % 7 == 6:
                kind = "bad"
            elif r > 0 and (r + 2 * si) % 4 == 2:
                kind = "redrop"
            if kind == "bad":
                t = tick_table(self.end_us[sym], self.rows, g, bad=True)
                p = self._path(sym, f"r{r:05d}_bad.parquet")
                out.bytes_landed += write_parquet(t, p)
                out.rows_landed += t.num_rows
                out.rejected += 1
                out.quarantine.append(p)
                continue
            # committed ticks are the contiguous grid before end_us, so the
            # overlap drops exactly min(overlap, committed) rows
            overlap = min(int(g.integers(self.rows // 50, self.rows // 6)), self.committed[sym])
            n = self.rows + int(g.integers(-(self.rows // 10), self.rows // 10))
            start = self.end_us[sym] - overlap * 250_000
            t = tick_table(start, n, g)
            p = self._path(sym, f"r{r:05d}_ticks.parquet")
            out.bytes_landed += write_parquet(t, p)
            out.rows_landed += n
            new_paths = [p]
            if kind == "redrop" and self.ingested[sym]:
                src = self.ingested[sym][int(g.integers(len(self.ingested[sym])))]
                dup = self._path(sym, f"r{r:05d}_redrop.parquet")
                with open(src, "rb") as f:
                    data = f.read()
                with open(dup, "wb") as f:
                    f.write(data)
                out.bytes_landed += len(data)
                out.rows_landed += pq.read_metadata(dup).num_rows
                new_paths.append(dup)
            fresh = n - overlap
            out.processed += len(new_paths)
            out.rows_appended += fresh
            self.committed[sym] += fresh
            self.end_us[sym] = start + n * 250_000
            self.ingested[sym].extend(new_paths)
        return out

    def quarantine(self, landed: LandedRun) -> None:
        """Move rejected files out of the zone (an operator's job)."""
        for p in landed.quarantine:
            os.remove(p)


# ---------------------------------------------------------------------------
# lake_query: a TPC-H-shaped star schema plus an event table
# ---------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("view", "click", "cart", "buy", "leave")
DAY0 = np.datetime64("1994-01-01")
EVENT_EPOCH_US = 1_704_067_200 * US  # 2024-01-01T00:00:00


@dataclass
class StarSchema:
    tables: dict[str, pa.Table]
    lineitem_batches: list[pa.Table]


def star_schema(seed: int, orders: int = 150_000, customers: int = 15_000, events: int = 100_000) -> StarSchema:
    """Row counts default to TPC-H sf0.1: 150k orders, 15k customers and
    1-7 lines per order (~600k lineitem), plus 100k events."""
    g = rng_for(seed, 2)
    region = pa.table({"r_regionkey": np.arange(5, dtype=np.int64), "r_name": list(REGIONS)})
    nation = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int64),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int64) % 5,
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(customers, dtype=np.int64),
            "c_nationkey": g.integers(0, 25, customers),
            "c_mktsegment": np.array(SEGMENTS)[g.integers(0, 5, customers)],
            "c_acctbal": g.integers(-99_999, 999_999, customers),
        }
    )
    odate = DAY0 + g.integers(0, 5 * 365, orders).astype("timedelta64[D]")
    order = pa.table(
        {
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": g.integers(0, customers, orders),
            "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, orders)],
            "o_totalprice": g.integers(100_000, 50_000_000, orders),
            "o_orderdate": pa.array(odate.astype("datetime64[D]")),
        }
    )
    lines = g.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders, dtype=np.int64), lines)
    n = len(okey)
    ship = np.repeat(odate, lines) + g.integers(1, 120, n).astype("timedelta64[D]")
    qty = g.integers(1, 51, n)
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_linenumber": np.concatenate([np.arange(k) for k in lines]).astype(np.int64),
            "l_quantity": qty,
            "l_extendedprice": qty * g.integers(90_000, 200_000, n),
            "l_discount": g.integers(0, 11, n),
            "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n)],
            "l_shipdate": pa.array(ship.astype("datetime64[D]")),
        }
    )
    # four appends by order key range: versions 1..4 of the table
    bounds = np.linspace(0, orders, 5).astype(np.int64)
    batches = []
    for i in range(4):
        lo, hi = np.searchsorted(okey, [bounds[i], bounds[i + 1]])
        batches.append(lineitem.slice(lo, hi - lo))
    ev_ts = EVENT_EPOCH_US + np.sort(g.integers(0, 3 * 86_400 * US, events))
    event = pa.table(
        {
            "event_id": np.arange(events, dtype=np.int64),
            "user_id": g.integers(0, 5_000, events),
            "event_type": np.array(EVENT_TYPES)[g.integers(0, 5, events)],
            "ts": pa.array(ev_ts.astype("datetime64[us]")),
            "value": g.integers(0, 1_000, events),
        }
    )
    return StarSchema(
        tables={
            "region": region,
            "nation": nation,
            "customer": customer,
            "orders": order,
            "lineitem": lineitem,
            "events": event,
        },
        lineitem_batches=batches,
    )


# ---------------------------------------------------------------------------
# upsert_mix: an accounts table under MERGE / UPDATE / DELETE
# ---------------------------------------------------------------------------

ACCOUNT_REGIONS = tuple(f"r{i}" for i in range(8))


def accounts(seed: int, n: int = 150_000) -> pa.Table:
    g = rng_for(seed, 3)
    return pa.table(
        {
            "id": np.arange(n, dtype=np.int64),
            "region": np.array(ACCOUNT_REGIONS)[g.integers(0, 8, n)],
            "balance": g.integers(0, 100_000, n),
            "status": np.array(["active", "frozen"])[(g.random(n) < 0.1).astype(int)],
            "version": np.zeros(n, dtype=np.int64),
        }
    )


def merge_batch(seed: int, i: int, next_id: int, live_ids: np.ndarray, rows: int, hot: int) -> pa.Table:
    """Half updates of the ``hot`` most recent keys, half inserts of new keys."""
    g = rng_for(seed, 4, i)
    hot = live_ids[-hot:]
    upd = g.choice(hot, size=min(rows // 2, len(hot)), replace=False)
    ins = np.arange(next_id, next_id + rows - len(upd), dtype=np.int64)
    ids = np.concatenate([upd, ins])
    m = len(ids)
    return pa.table(
        {
            "id": ids,
            "region": np.array(ACCOUNT_REGIONS)[g.integers(0, 8, m)],
            "balance": g.integers(0, 100_000, m),
            "status": np.array(["active", "frozen"])[(g.random(m) < 0.1).astype(int)],
            "version": np.full(m, i + 1, dtype=np.int64),
        }
    )


# ---------------------------------------------------------------------------
# embeddings: vectors drawn around planted cluster centres
# ---------------------------------------------------------------------------


def embeddings(seed: int, n: int = 2_000, dim: int = 64) -> pa.Table:
    """``n`` vectors in clusters of ~50; each is a random centre plus small
    noise, so true neighbours sit at high cosine similarity, as in real
    embedding sets."""
    g = rng_for(seed, 5)
    clusters = max(1, n // 50)
    centers = g.normal(size=(clusters, dim))
    vecs = centers[g.integers(0, clusters, n)] + g.normal(scale=0.25, size=(n, dim))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float64())),
        }
    )
