"""Seeded inputs for the benchmark workloads.

Everything here is plain Python/numpy/pyarrow on one thread: the inputs
depend only on the seed and on the reference tables in `data/sf0.1`,
never on the engine under test, so two commits see identical inputs.

- CDC: Debezium `customers` envelopes (one JSON object per line). A
  snapshot of op `r`, then change files of mostly `u` with some `c`/`d`,
  keys skewed toward low ids, in-file c->u->d chains and ~5% of events
  carrying an older `ts_ms`. There is no CDC table in the reference
  data, so this stream is synthetic; `CdcReplay` is its oracle.
- events: the sf0.1 `events` table replayed in `ts` order, cut into
  files of `EVENTS_PER_FILE` rows. A seeded share of rows arrives up to
  5 minutes late (inside the 10-minute watermark) and two rows per file
  arrive three files late (beyond it).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

CDC_EVENTS_PER_FILE = 1000
T0_CDC_MS = 1_700_000_000_000
STATES = ("CA", "NY", "TX", "WA", "FL")

EVENTS_PER_FILE = 1000
SHUFFLE_SHARE = 0.05
MAX_SHIFT_US = 5 * 60 * 1_000_000
LATE_PER_FILE = 2


def _customer_row(pk: int, version: int) -> dict:
    return {
        "id": pk,
        "first_name": f"first_{pk}",
        "last_name": f"v{version}",
        "email": f"user{pk}@example.com",
        "phone": f"+1-555-{pk % 10_000_000:07d}",
        "address": f"addr_{pk}_{version}",
        "city": f"city_{pk % 97}",
        "state": STATES[(pk + version) % len(STATES)],
        "zip_code": f"{(pk * 7919) % 100_000:05d}",
    }


class CdcReplay:
    """Change-stream generator and its replay oracle.

    Every emitted event updates `latest` by the pipeline's rule: the
    newest (ts_ms, arrival) per key wins, deletes included, so
    `expected_state()` is the live state after everything emitted so
    far. `counts` holds the per-op totals `cdc_stats` must report."""

    def __init__(self, seed: int, n_snapshot: int):
        self.rng = np.random.default_rng([seed, 1])
        self.n_snapshot = n_snapshot
        self.next_pk = n_snapshot + 1
        self.clock_ms = T0_CDC_MS
        self.arrival = 0
        self.version: dict[int, int] = {}
        self.latest: dict[int, tuple] = {}
        self.counts: dict[str, int] = {}

    def _emit(self, lines: list, op: str, pk: int, ts_ms: int) -> None:
        v = self.version.get(pk, 0) + 1
        self.version[pk] = v
        row = _customer_row(pk, v)
        before, after = (row, None) if op == "d" else (None, row)
        lines.append(json.dumps(
            {"op": op, "ts_ms": ts_ms, "source": {"table": "customers"},
             "before": before, "after": after},
            separators=(",", ":"),
        ))
        self.arrival += 1
        cur = self.latest.get(pk)
        if cur is None or (ts_ms, self.arrival) > (cur[1], cur[4]):
            self.latest[pk] = (op, ts_ms, row["last_name"], row["address"], self.arrival)
        self.counts[op] = self.counts.get(op, 0) + 1

    def _tick(self) -> int:
        self.clock_ms += int(self.rng.integers(1, 20))
        return self.clock_ms

    def snapshot_lines(self) -> list[str]:
        lines: list[str] = []
        for pk in range(1, self.n_snapshot + 1):
            self._emit(lines, "r", pk, self._tick())
        return lines

    def change_lines(self) -> list[str]:
        """About CDC_EVENTS_PER_FILE events: ~88% u, ~6% c, ~5% d, plus
        c->u->d chains on fresh keys; key choice skewed toward low ids;
        ~5% of events carry a ts_ms up to a minute old."""
        rng = self.rng
        lines: list[str] = []
        while len(lines) < CDC_EVENTS_PER_FILE:
            r = rng.random()
            if r < 0.01:  # c -> u -> d chain for one fresh key in this file
                pk = self.next_pk
                self.next_pk += 1
                for op in ("c", "u", "d"):
                    self._emit(lines, op, pk, self._tick())
                continue
            if r < 0.07:
                pk, op = self.next_pk, "c"
                self.next_pk += 1
            else:
                # squaring a uniform concentrates draws on low ids
                pk = 1 + int((self.next_pk - 1) * rng.random() ** 2)
                op = "d" if r < 0.12 else "u"
            ts = self._tick()
            if rng.random() < 0.05:
                ts -= int(rng.integers(1, 60_000))
            self._emit(lines, op, pk, ts)
        return lines

    def expected_state(self) -> dict[int, tuple]:
        """pk -> (op, ts_ms, last_name, address) for live keys."""
        return {pk: v[:4] for pk, v in self.latest.items() if v[0] != "d"}


class FileWriter:
    """Writes input files atomically, each with a later modification
    time than the one before. The file source replays new files in
    mtime order, and files written within one clock tick would tie and
    replay in directory-listing order."""

    def __init__(self):
        self.last_ns = 0

    def _publish(self, tmp: str, path: str) -> None:
        os.rename(tmp, path)  # the file source must never see a partial file
        t = max(time.time_ns(), self.last_ns + 10_000_000)  # Spark compares ms
        os.utime(path, ns=(t, t))
        self.last_ns = t

    def lines(self, path: str, lines: list[str]) -> None:
        tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        self._publish(tmp, path)

    def table(self, path: str, table: pa.Table) -> None:
        tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
        pq.write_table(table, tmp)
        self._publish(tmp, path)


def events_table() -> pa.Table:
    """The reference events, `ts` written UTC-adjusted so Spark reads it
    as TIMESTAMP (watermarks need it)."""
    t = pq.read_table(os.path.join(DATA_DIR, "events.parquet"))
    return t.set_column(1, "ts", t["ts"].cast(pa.timestamp("us", tz="UTC")))


def event_files(seed: int) -> list[pa.Table]:
    """The sf0.1 events as arrival-ordered files. Arrival is `ts`, plus
    up to MAX_SHIFT_US for a SHUFFLE_SHARE of rows; rows are cut into
    files by arrival. Then LATE_PER_FILE rows of each file move three
    files on, where the watermark has passed them by hours even if the
    query restarted just before (a restarted query resumes with the
    watermark of its last batch, one file behind)."""
    rng = np.random.default_rng([seed, 2])
    t = events_table()
    ts = pc.cast(t["ts"], pa.int64()).to_numpy()
    arrival = ts.copy()
    shifted = rng.random(len(ts)) < SHUFFLE_SHARE
    arrival[shifted] += rng.integers(0, MAX_SHIFT_US, int(shifted.sum()))
    order = np.argsort(arrival, kind="stable")
    n_files = len(order) // EVENTS_PER_FILE
    parts = [list(order[f * EVENTS_PER_FILE:(f + 1) * EVENTS_PER_FILE]) for f in range(n_files)]
    for f in range(n_files - 3):
        for i in sorted(rng.choice(len(parts[f]), LATE_PER_FILE, replace=False), reverse=True):
            parts[f + 3].append(parts[f].pop(i))
    return [t.take(pa.array(rng.permutation(p))) for p in parts]
