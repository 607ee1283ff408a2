"""Seeded benchmark inputs, generated once per seed and cached.

Two kinds of input, both a pure function of the seed:

- ``fixture_inputs``: every table of the vendored sf0.001 fixture
  (``perfbench/fixture``), rows permuted by the seed. Sizes and the
  set of rows never change; only the physical order does.
- ``lab_events``: the Labs 3/4 ride-event stream for ``lab_stream`` —
  zone assignment, value wobble and spike windows drawn from the seed,
  written as one chronological file that ends with one far-future
  sentinel event per zone, whose watermark closes every window.

Each input directory carries a ``_SHA256`` file holding the sha256 of its
parquet bytes; the same seed yields byte-identical files and the same
digest. Only numpy and pyarrow are used, so generation never touches
the engine under test.
"""

from __future__ import annotations

import hashlib
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = Path(__file__).resolve().parent / "fixture"

#: 2023-11-14 22:13:00 UTC, minute-aligned so windows start on the epoch grid
LAB_T0_S = 1_699_999_980
LAB_WINDOW_S = 60
LAB_WATERMARK_S = 90
LAB_HORIZON_S = 120
LAB_SPIKE = 40.0
#: chance that a zone's window carries a spike
LAB_SPIKE_P = 1 / 25


@dataclass(frozen=True)
class LabShape:
    zones: int
    span_s: int
    rate_per_s: int

    @property
    def events(self) -> int:
        return self.span_s * self.rate_per_s


LAB_SHAPES = {
    "full": LabShape(zones=20, span_s=3600, rate_per_s=5),
    "tiny": LabShape(zones=8, span_s=1200, rate_per_s=2),
}


def _digest(d: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(d.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _cached(d: Path, build) -> tuple[Path, str]:
    """Return ``(d, digest)``, building ``d`` with ``build(tmp_dir)`` first
    if no complete copy exists (a half-written directory never counts)."""
    done = d / "_SHA256"
    if done.exists():
        return d, done.read_text().strip()
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    digest = _digest(tmp)
    (tmp / "_SHA256").write_text(digest + "\n")
    tmp.rename(d)
    return d, digest


def fixture_inputs(seed: int, cache: Path) -> tuple[Path, str]:
    """The fixture tables under one seeded row permutation each."""
    def build(out: Path) -> None:
        rng = np.random.default_rng(seed)
        for src in sorted(FIXTURE.glob("*.parquet")):
            t = pq.read_table(src)
            t = t.take(pa.array(rng.permutation(t.num_rows)))
            pq.write_table(t, out / src.name)

    return _cached(cache / f"fixture-s{seed}", build)


def lab_event_table(seed: int, shape: LabShape) -> pa.Table:
    """``event_id, zone, ts, amount`` in event-time order (no sentinel).

    One event every ``1/rate`` s with a seeded sub-tick jitter, so ``ts``
    never decreases. ``amount`` is an integer-valued double (50 + wobble
    in 0..10, + 40 inside a zone's spike windows), so window sums and
    averages are exact in every engine.
    """
    rng = np.random.default_rng(seed)
    n = shape.events
    tick_us = 1_000_000 // shape.rate_per_s
    ts_us = (LAB_T0_S * 1_000_000 + np.arange(n, dtype=np.int64) * tick_us
             + rng.integers(0, tick_us, n))
    zone = rng.integers(0, shape.zones, n)
    n_windows = shape.span_s // LAB_WINDOW_S
    spikes = rng.random((shape.zones, n_windows)) < LAB_SPIKE_P
    widx = (ts_us // 1_000_000 - LAB_T0_S) // LAB_WINDOW_S
    amount = (50 + rng.integers(0, 11, n)
              + np.where(spikes[zone, widx], LAB_SPIKE, 0.0)).astype(np.float64)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "zone": pa.array([f"zone_{z:03d}" for z in zone]),
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "amount": pa.array(amount),
    })


def lab_events(seed: int, shape: LabShape, cache: Path) -> tuple[Path, str]:
    """One file ``events.parquet``: the events, then the sentinel rows
    (one per zone, an hour past the span)."""
    def build(out: Path) -> None:
        t = lab_event_table(seed, shape)
        sentinel_us = (LAB_T0_S + shape.span_s + 3600) * 1_000_000
        t = pa.concat_tables([t, pa.table({
            "event_id": pa.array(np.arange(t.num_rows, t.num_rows + shape.zones,
                                           dtype=np.int64)),
            "zone": pa.array([f"zone_{z:03d}" for z in range(shape.zones)]),
            "ts": pa.array(np.full(shape.zones, sentinel_us, dtype=np.int64),
                           pa.timestamp("us", tz="UTC")),
            "amount": pa.array(np.full(shape.zones, 50.0)),
        })])
        pq.write_table(t, out / "events.parquet")

    name = f"lab-{shape.zones}z{shape.events}e-s{seed}"
    return _cached(cache / name, build)
