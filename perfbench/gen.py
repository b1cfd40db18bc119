"""Seeded inputs for the keyed-table workloads, and the reference model
that predicts the table's contents without going through the engine.

Every key belongs to one creation day for life (the partition value),
``ts`` is the precombine field and rises with the commit number, so
under event-time-wins a row wins exactly when its ``ts`` is above the
key's current one. A batch holds each key at most once, and a deleted
key never comes back, so the model needs no tie-breaks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: ts of commit i's rows lie in [(i + 1) * TS_STEP, (i + 2) * TS_STEP);
#: the bulk load takes [0, TS_STEP)
TS_STEP = 10_000
PAD_BYTES = 24
#: the bulk load spreads keys over BASE_DAYS creation days; a new day
#: opens every COMMITS_PER_DAY commits and takes that day's inserts
BASE_DAYS = 6
COMMITS_PER_DAY = 4
#: shares of a batch: updates of live keys, and a late slice of live
#: keys carrying an older ts; the rest are inserts into the newest day
UPDATE_SHARE = 0.7
LATE_SHARE = 0.1
#: updates and late rows hit keys created in the last RECENT_DAYS days,
#: weighted RECENT_DECAY ** age in days
RECENT_DAYS = 3
RECENT_DECAY = 0.5
#: every DELETE_EVERY-th cycle first deletes live keys, uniformly
DELETE_EVERY = 4
KEYS_PER_LOOKUP = 16
#: share of a lookup's keys drawn from the two newest days; the rest are
#: uniform over every key ever created
HOT_SHARE = 0.8
RANGE_WIDTH = 400


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one workload."""

    base_rows: int
    batch_rows: int
    delete_rows: int
    lookups_per_cycle: int
    ranges_per_cycle: int
    incrementals_per_cycle: int


@dataclass
class Cycle:
    """The staged inputs of one cycle of the closed loop."""

    batch: str  # parquet file of the upsert batch
    deletes: str | None  # parquet file of keys to delete first, if any
    n_rows: int
    lookups: list[list[int]]
    ranges: list[tuple[int, int]]  # inclusive ts slices


class Model:
    """The table's expected state, one slot per key id."""

    def __init__(self, cap: int):
        self.live = np.zeros(cap, dtype=bool)
        self.day = np.zeros(cap, dtype=np.int32)
        self.ts = np.zeros(cap, dtype=np.int64)
        self.v = np.zeros(cap, dtype=np.int64)
        self.n_ids = 0

    def upsert(self, t: pa.Table) -> None:
        ids = t["id"].to_numpy()
        ts = t["ts"].to_numpy()
        win = ~self.live[ids] | (ts > self.ts[ids])
        w = ids[win]
        self.live[w] = True
        self.day[w] = t["day"].to_numpy()[win]
        self.ts[w] = ts[win]
        self.v[w] = t["v"].to_numpy()[win]
        self.n_ids = max(self.n_ids, int(ids.max()) + 1)

    def delete(self, ids: np.ndarray) -> None:
        self.live[ids] = False

    def agg(self) -> dict[int, tuple[int, int]]:
        """{day: (rows, sum of v)} over live rows."""
        ids = np.flatnonzero(self.live)
        days = self.day[ids]
        out: dict[int, tuple[int, int]] = {}
        for d in np.unique(days):
            sel = ids[days == d]
            out[int(d)] = (int(len(sel)), int(self.v[sel].sum()))
        return out

    def rows(self, ids) -> dict[int, tuple[int, int, int]]:
        """{id: (day, ts, v)} of the live keys among ``ids``."""
        ids = np.asarray(ids, dtype=np.int64)
        ids = ids[(ids < len(self.live))]
        ids = ids[self.live[ids]]
        return {
            int(k): (int(self.day[k]), int(self.ts[k]), int(self.v[k]))
            for k in ids
        }

    def in_range(self, lo: int, hi: int) -> set[int]:
        sel = self.live & (self.ts >= lo) & (self.ts <= hi)
        return set(np.flatnonzero(sel).tolist())


def _rows(rng, ids, day, ts) -> pa.Table:
    n = len(ids)
    pad = rng.integers(0, 256, size=(n, PAD_BYTES), dtype=np.uint8)
    return pa.table(
        {
            "id": pa.array(ids.astype(np.int64)),
            "day": pa.array(day.astype(np.int32)),
            "ts": pa.array(ts.astype(np.int64)),
            "v": pa.array(rng.integers(0, 1_000_000, n).astype(np.int64)),
            "pad": pa.array([bytes(r).hex() for r in pad]),
        }
    )


def base_table(seed: int, sz: Sizes) -> pa.Table:
    rng = np.random.default_rng([seed, 0])
    ids = np.arange(sz.base_rows, dtype=np.int64)
    day = ids % BASE_DAYS
    ts = rng.integers(0, TS_STEP, sz.base_rows)
    return _rows(rng, ids, day, ts)


def stage(
    seed: int, sz: Sizes, n_cycles: int, out_dir: str
) -> tuple[str, list[Cycle]]:
    """Write the base load and ``n_cycles`` cycles of batches,
    deletes, lookup key sets and range slices under ``out_dir``.
    Returns the base file and the cycles."""
    os.makedirs(out_dir, exist_ok=True)
    base = base_table(seed, sz)
    base_path = os.path.join(out_dir, "base.parquet")
    pq.write_table(base, base_path)
    rng = np.random.default_rng([seed, 1])
    cap = sz.base_rows + n_cycles * sz.batch_rows
    m = Model(cap)
    m.upsert(base)
    cycles = []
    for i in range(n_cycles):
        dels = None
        if i % DELETE_EVERY == DELETE_EVERY - 1:
            live = np.flatnonzero(m.live)
            d_ids = np.sort(rng.choice(live, sz.delete_rows, replace=False))
            m.delete(d_ids)
            dels = os.path.join(out_dir, f"del_{i:04d}.parquet")
            pq.write_table(pa.table({"id": pa.array(d_ids)}), dels)
        newest = BASE_DAYS + i // COMMITS_PER_DAY
        n_upd = int(sz.batch_rows * UPDATE_SHARE)
        n_late = int(sz.batch_rows * LATE_SHARE)
        n_ins = sz.batch_rows - n_upd - n_late
        age = newest - m.day
        live = np.flatnonzero(m.live & (age < RECENT_DAYS))
        w = RECENT_DECAY ** age[live].astype(np.float64)
        picked = rng.choice(live, n_upd + n_late, replace=False, p=w / w.sum())
        upd, late = picked[:n_upd], picked[n_upd:]
        lo_ts = (i + 1) * TS_STEP
        ins = np.arange(m.n_ids, m.n_ids + n_ins, dtype=np.int64)
        ids = np.concatenate([upd, ins, late])
        day = np.concatenate(
            [m.day[upd], np.full(n_ins, newest), m.day[late]]
        )
        ts = np.concatenate(
            [
                rng.integers(lo_ts, lo_ts + TS_STEP, n_upd + n_ins),
                m.ts[late] - rng.integers(1, TS_STEP // 2, n_late),
            ]
        )
        batch = _rows(rng, ids, day, ts)
        m.upsert(batch)
        path = os.path.join(out_dir, f"batch_{i:04d}.parquet")
        pq.write_table(batch, path)
        hot = np.flatnonzero(m.day[: m.n_ids] >= newest - 1)
        lookups = []
        n_hot = int(round(KEYS_PER_LOOKUP * HOT_SHARE))
        for _ in range(sz.lookups_per_cycle):
            keys = np.concatenate(
                [
                    rng.choice(hot, n_hot, replace=False),
                    rng.integers(0, m.n_ids, KEYS_PER_LOOKUP - n_hot),
                ]
            )
            lookups.append(sorted({int(k) for k in keys}))
        r_lo = lo_ts + rng.integers(
            0, TS_STEP - RANGE_WIDTH, sz.ranges_per_cycle
        )
        ranges = [(int(a), int(a) + RANGE_WIDTH) for a in r_lo]
        cycles.append(Cycle(path, dels, len(ids), lookups, ranges))
    return base_path, cycles
