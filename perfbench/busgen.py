"""Open-loop event generator for the bus workload, run as its own process.

    python3 perfbench/busgen.py --root LOG --topic bus --seed N \
        --first-id I --rate R --tick-ms T --seconds S --out STATS.json
    python3 perfbench/busgen.py --root LOG --topic bus --seed N \
        --first-id I --backlog N_RECORDS --out STATS.json

Live mode appends ``rate * tick_ms / 1000`` reference-shaped records
``{count, source: "origin", created_ms}`` per tick through
``TopicLog.append``. Tick k is due at ``start + k * tick``; the schedule
never waits for the system under test, so a slow append makes the next
ticks late rather than fewer, and every record carries its tick's due
time as ``created_ms``. Backlog mode writes ``--backlog`` records in one
append. Keys are seeded Zipf draws, so partition routing is too.

Writes append timings and lateness to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import time

import numpy as np


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int = 1000,
              s: float = 1.1) -> np.ndarray:
    """``n`` key ids in ``[0, n_keys)`` with Zipf(s) popularity."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=n, p=p / p.sum())


def _records(first_id: int, keys, due_ms: int) -> tuple[list[str], list[str]]:
    values = [
        f'{{"count":{first_id + i},"source":"origin","created_ms":{due_ms}}}'
        for i in range(len(keys))
    ]
    return values, [f"k{k}" for k in keys]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--topic", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first-id", type=int, required=True)
    ap.add_argument("--rate", type=int, default=0)
    ap.add_argument("--tick-ms", type=int, default=50)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--backlog", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(a.root)
    rng = np.random.default_rng(a.seed)
    stats: dict = {}
    if a.backlog:
        keys = zipf_keys(rng, a.backlog)
        values, skeys = _records(a.first_id, keys, int(time.time() * 1000))
        # dealt round-robin over the partitions, so every backfill trigger
        # reads the same number of records whatever the key draw
        pids = log.partitions(a.topic)
        t = time.perf_counter()
        for i, pid in enumerate(pids):
            log.append(a.topic, values[i::len(pids)], keys=skeys[i::len(pids)],
                       partition=pid)
        stats = {"n": a.backlog, "append_s": time.perf_counter() - t}
    else:
        per_tick = a.rate * a.tick_ms // 1000
        n_ticks = int(a.seconds * 1000 // a.tick_ms)
        keys = zipf_keys(rng, per_tick * n_ticks).reshape(n_ticks, per_tick)
        tick = a.tick_ms / 1000.0
        append_ms, late_ms = [], []
        start = time.time() + 0.05
        for k in range(n_ticks):
            due = start + k * tick
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            values, skeys = _records(a.first_id + k * per_tick, keys[k],
                                     int(due * 1000))
            t = time.time()
            late_ms.append((t - due) * 1000.0)
            log.append(a.topic, values, keys=skeys)
            append_ms.append((time.time() - t) * 1000.0)
        stats = {"n": per_tick * n_ticks, "start": start, "end": start + n_ticks * tick,
                 "append_ms": append_ms, "late_ms": late_ms}
    with open(a.out, "w") as f:
        json.dump(stats, f)


if __name__ == "__main__":
    main()
