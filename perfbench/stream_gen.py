"""Open-loop event generator for the ``priority_stream`` workload.

A separate, single-threaded process. Each bucket's events arrive as a
Poisson process whose rate is the phase's rate times the bucket's
share; every ``--file-events`` consecutive events of a bucket form one
parquet file in ``<out>/<bucket>/``, the stand-in for the bucket's Kafka
partitions, so ``maxFilesPerTrigger`` caps events per trigger like
``maxOffsetsPerTrigger`` caps offsets. A file is due when its last
event is created. Due times follow the precomputed schedule whatever
the consumer is doing: a late file is written at once, never skipped
or shifted, and its lateness is recorded. Files are written under a
dot-name (which Spark's file source ignores) and renamed into place, so
a reader never sees a partial file.

Each event carries ``event_id`` (dense per bucket from 0), ``key``
(``<bucket>-g<group>-<id>``) and ``created_us``, its arrival time.
One manifest line per file records bucket, first id, count, phase,
due and written times.

    python3 stream_gen.py --out DIR --seed 1 --start UNIX_TS --file-events 250 \\
        --phase warm:5:2000 --phase nominal:10:2000 --phase overload:10:8000 \\
        --share Platinum=0.25 --share Gold=0.75
"""

from __future__ import annotations

import argparse
import heapq
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def arrivals(rng, phases, start: float, share: float) -> tuple[np.ndarray, np.ndarray]:
    """Arrival times and phase index of one bucket's events."""
    times, phase_of = [], []
    t = start
    for i, (_, seconds, rate) in enumerate(phases):
        n = int(rng.poisson(rate * share * seconds))
        times.append(np.sort(rng.uniform(t, t + seconds, n)))
        phase_of.append(np.full(n, i))
        t += seconds
    return np.concatenate(times), np.concatenate(phase_of)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--file-events", type=int, required=True)
    ap.add_argument("--phase", action="append", required=True, help="name:seconds:events_per_s")
    ap.add_argument("--share", action="append", required=True, help="bucket=fraction")
    args = ap.parse_args()

    phases = [(n, float(s), float(r)) for n, s, r in (p.split(":") for p in args.phase)]
    end = args.start + sum(s for _, s, _ in phases)
    rng = np.random.default_rng(args.seed)
    files = []  # (due, bucket, first, n)
    events = {}
    for b, share in (s.split("=") for s in args.share):
        times, phase_of = arrivals(rng, phases, args.start, float(share))
        groups = rng.integers(0, 32, len(times))
        events[b] = (times, phase_of, groups)
        for first in range(0, len(times), args.file_events):
            last = min(first + args.file_events, len(times)) - 1
            due = times[last] if last - first + 1 == args.file_events else end
            files.append((due, b, first, last - first + 1))
        os.makedirs(os.path.join(args.out, b), exist_ok=True)
    heapq.heapify(files)

    with open(os.path.join(args.out, "manifest.jsonl"), "w") as manifest:
        while files:
            due, b, first, n = heapq.heappop(files)
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            times, phase_of, groups = events[b]
            ids = np.arange(first, first + n, dtype=np.int64)
            table = pa.table(
                {
                    "event_id": ids,
                    "key": [f"{b}-g{g}-{i}" for g, i in zip(groups[first : first + n].tolist(), ids.tolist())],
                    "created_us": (times[first : first + n] * 1e6).astype(np.int64),
                }
            )
            name = f"{first:09d}.parquet"
            tmp = os.path.join(args.out, b, f".{name}.tmp")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(args.out, b, name))
            row = {
                "bucket": b,
                "first_id": first,
                "n": n,
                "phase": phases[int(phase_of[first + n - 1])][0],
                "due": float(due),
                "written": time.time(),
            }
            manifest.write(json.dumps(row) + "\n")


if __name__ == "__main__":
    main()
