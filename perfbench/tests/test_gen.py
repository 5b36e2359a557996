"""Generator determinism: the same seed gives the same files and rows."""

from __future__ import annotations

import hashlib
import os

from perfbench import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for n in files:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.md5(f.read()).hexdigest()
    return out


def _land(root: str, seed: int, runs: int = 6):
    zone = gen.TickLanding(root, seed, rows=300)
    outcomes = []
    for _ in range(runs):
        landed = zone.land()
        outcomes.append((landed.processed, landed.skipped, landed.rejected, landed.rows_appended, landed.bytes_landed))
        zone.quarantine(landed)
    return outcomes, zone.committed


def test_tick_landing_is_deterministic(tmp_path):
    a = _land(str(tmp_path / "a"), 7)
    b = _land(str(tmp_path / "b"), 7)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    c = _land(str(tmp_path / "c"), 8)
    assert c != a


def test_tick_landing_plants_every_outcome(tmp_path):
    zone = gen.TickLanding(str(tmp_path), 3, rows=300)
    names: set[str] = set()
    overlaps = 0
    for _ in range(40):
        landed = zone.land()
        names |= {n for s in zone.SYMBOLS for n in os.listdir(tmp_path / s)}
        overlaps += landed.rows_landed > landed.rows_appended
        zone.quarantine(landed)
    assert overlaps
    assert any(n.endswith("_bad.parquet") for n in names)
    assert any(n.endswith("_redrop.parquet") for n in names)


def test_tables_are_deterministic():
    assert gen.star_schema(5, orders=500, customers=50, events=500).tables == gen.star_schema(
        5, orders=500, customers=50, events=500).tables
    assert gen.accounts(5, 300).equals(gen.accounts(5, 300))
    assert gen.embeddings(5, 100).equals(gen.embeddings(5, 100))
    assert not gen.embeddings(5, 100).equals(gen.embeddings(6, 100))
    ids = gen.accounts(5, 300).column("id").to_numpy()
    assert gen.merge_batch(5, 2, 300, ids, 40, 60).equals(gen.merge_batch(5, 2, 300, ids, 40, 60))
