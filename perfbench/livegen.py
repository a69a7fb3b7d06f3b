"""Open-loop event generator for the live workload, run as its own process.

Writes one parquet file per tick into ``--dir`` on a fixed schedule that does
not slow down when the engine does. Each event carries its *due* time (the
moment the schedule says it is written), so latency is measured from when an
event was due, not from when a stalled writer got to it. Files appear
atomically: each is written under a hidden name (ignored by Spark's file
source) and renamed into place.

Phases are ``duration_s:rate`` pairs, e.g. ``--phases 8:200,10:200,5:1000``.
Keys, values and event types come from ``--seed`` and are drawn as in the
``events`` table of ``datagen.py``: users uniform over that table's key space
at the default scale, the five event types evenly split. At exit it writes a
JSON summary with how late the writer ran behind its schedule.

Usage: python3 perfbench/livegen.py --dir D --seed N --t0 EPOCH_S
       --phases SPEC --summary PATH
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import DEFAULT_SCALE, event_draws, n_users

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("due", pa.float64()),
    ("tick", pa.int64()),
])
TICK_S = 0.1
USERS = n_users(DEFAULT_SCALE)


def parse_phases(spec: str) -> list[tuple[float, float]]:
    return [(float(d), float(r)) for d, r in (p.split(":") for p in spec.split(","))]


def schedule(phases: list[tuple[float, float]], tick: float) -> list[int]:
    """Events per tick, phase by phase; fractional rates carry over."""
    counts, carry = [], 0.0
    for duration, rate in phases:
        for _ in range(round(duration / tick)):
            carry += rate * tick
            counts.append(int(carry))
            carry -= int(carry)
    return counts


def write_events(out_dir: str, name: str, ids: np.ndarray, rng: np.random.Generator,
                 due: float, tick: int) -> None:
    """Write events ``ids``, all due at ``due``, as ``out_dir/name``: under a
    hidden name first, then renamed into place."""
    n = len(ids)
    table = pa.table({
        "event_id": ids,
        **event_draws(rng, n, USERS),
        "due": np.full(n, due),
        "tick": np.full(n, tick, dtype=np.int64),
    }, schema=SCHEMA)
    tmp = os.path.join(out_dir, f".{name}")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out_dir, name))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--phases", required=True)
    ap.add_argument("--summary", required=True)
    a = ap.parse_args()

    rng = np.random.default_rng(a.seed)
    next_id = 0
    late_ms = []
    for k, n in enumerate(schedule(parse_phases(a.phases), TICK_S)):
        due = a.t0 + k * TICK_S
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        if n == 0:
            continue
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        write_events(a.dir, f"part-{k:06d}.parquet", ids, rng, due, k)
        late_ms.append((time.time() - due) * 1000.0)
    with open(a.summary, "w") as f:
        json.dump({
            "events": next_id,
            "files": len(late_ms),
            "late_p50_ms": float(np.percentile(late_ms, 50)) if late_ms else 0.0,
            "late_max_ms": max(late_ms, default=0.0),
        }, f)


if __name__ == "__main__":
    main()
