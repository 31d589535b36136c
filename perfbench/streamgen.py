"""Open-loop event generator for stream_alerts, run as its own process.

    python3 streamgen.py --spool DIR --seed N \
        --ladder RATE:SECONDS[,RATE:SECONDS...] --stats OUT.json

On start it writes one warm-up file of WARM_ROWS events and prints
`ready`. After a `go` line on stdin it fixes t0 half a tick past a whole
multiple of TRIGGER_MS, the consumer's trigger interval (so a trigger never
races a file being written, and a stage whose length is a whole number of
trigger intervals is processed by the same micro-batches in every run),
prints `t0 <epoch µs>`, and then writes tick k at its due time t0 + k·T
(T = TICK_MS), on that schedule whatever the consumer does: a late tick is
written as soon as possible and the next ones keep their own due times.
Each tick is one parquet file (written to a temporary name, then renamed
into the spool) holding rate·T events over USERS users, each stamped with
its due time (`due_us`, and `ts` as event time). The stats file records,
per tick, its due time, rows and how late the write finished.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TYPES = np.array(["view", "click", "signup", "purchase"])
TYPE_P = (0.45, 0.45, 0.02, 0.08)
USERS = 64
TICK_MS = 250
TRIGGER_MS = 2500  # a whole multiple of TICK_MS
WARM_ROWS = 1000


def make_tick(seed: int, k: int, rows: int, first_id: int, due_us: int) -> pa.Table:
    rng = np.random.default_rng([seed, k + 1])
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + rows), type=pa.int64()),
        "user_id": pa.array(rng.integers(0, USERS, rows), type=pa.int64()),
        "event_type": pa.array(TYPES[rng.choice(4, rows, p=TYPE_P)]),
        "value": pa.array(np.round(rng.uniform(0, 100, rows), 2)),
        "ts": pa.array(np.full(rows, due_us), type=pa.timestamp("us", tz="UTC")),
        "due_us": pa.array(np.full(rows, due_us), type=pa.int64()),
    })


def schedule(ladder: list[tuple[float, float]]) -> list[tuple[int, int]]:
    """(stage, rows) per tick of the ladder."""
    out = []
    for stage, (rate, seconds) in enumerate(ladder):
        rows = max(1, round(rate * TICK_MS / 1000))
        out += [(stage, rows)] * max(1, round(seconds * 1000 / TICK_MS))
    return out


def _write(spool: str, name: str, table: pa.Table) -> None:
    tmp = os.path.join(spool, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(spool, name))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spool", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ladder", required=True)
    ap.add_argument("--stats", required=True)
    args = ap.parse_args(argv)
    ladder = [tuple(float(x) for x in s.split(":")) for s in args.ladder.split(",")]
    ticks = schedule(ladder)
    tick_us = TICK_MS * 1000
    trigger_us = TRIGGER_MS * 1000

    now_us = time.time_ns() // 1000
    _write(args.spool, "warm.parquet", make_tick(args.seed, -1, WARM_ROWS, 0, now_us))
    print("ready", flush=True)
    if sys.stdin.readline().strip() != "go":
        return 1
    # at least a tick ahead, to make the first tick
    t0 = ((time.time_ns() // 1000 + tick_us) // trigger_us + 1) * trigger_us + tick_us // 2
    print(f"t0 {t0}", flush=True)

    first_id = WARM_ROWS
    stats = []
    nxt = make_tick(args.seed, 0, ticks[0][1], first_id, t0)
    for k, (stage, rows) in enumerate(ticks):
        due = t0 + k * tick_us
        table = nxt
        wait = due / 1e6 - time.time()
        if wait > 0:
            time.sleep(wait)
        _write(args.spool, f"tick_{k:06d}.parquet", table)
        done = time.time_ns() // 1000
        stats.append({"k": k, "stage": stage, "due_us": due, "rows": rows,
                      "late_ms": (done - due) / 1000})
        first_id += rows
        if k + 1 < len(ticks):
            nxt = make_tick(args.seed, k + 1, ticks[k + 1][1], first_id,
                            t0 + (k + 1) * tick_us)
    with open(args.stats, "w") as f:
        json.dump({"t0_us": t0, "ladder": ladder, "ticks": stats}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
