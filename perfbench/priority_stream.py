"""``priority_stream``: prioritized per-bucket consumption under an open
loop.

``stream_gen.py`` runs as its own process and writes parquet files of
a fixed number of events on a fixed schedule into one directory per
bucket. The benchmark
starts one streaming query per ``streaming.consume.consume_plan`` spec:
``maxFilesPerTrigger`` is the spec's allocation-weighted
``max_offsets_per_trigger`` (the file-source analog of
``maxOffsetsPerTrigger``) and each query runs in its spec's FAIR pool.
Each query routes its micro-batches with
``streaming.lifetime.lifetime_foreach_batch`` into
``streaming.sinks.idempotent_parquet_sink``.

The schedule is a warm-up and a ``nominal`` phase at a rate well under
capacity, then an ``overload`` phase above it. Platinum is the minority
of traffic, so its own rate stays under its share of capacity. After
the generator ends the queries drain, and each bucket's sink must hold
exactly its generated event ids, with lifetime ``seq`` running
0..n-1 and partitions following ``lo + seq % size``.

Latency of an event is the wall time from its creation stamp to the
commit of the micro-batch that sank it; queue wait runs to the start of
that micro-batch. Backlog (events in written files minus events
committed) is evaluated on a 1 Hz grid from the generator's manifest
and the per-batch commit records.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import numpy as np
import pyarrow.dataset as ds

from common import STREAM_BUCKETS, describe

TOPIC = "orders"
PARTITIONS = 12
FILE_EVENTS = 250
FILES_PER_TRIGGER = 60  # split by allocation: Platinum 42, Gold 18
SHARES = {"Platinum": 0.25, "Gold": 0.75}
WARM_S = 6.0
NOMINAL_SHARE = 0.25  # of --seconds; the rest is overload
# Calibrated on a 4-core host; see perfbench/README.md.
NOMINAL_EPS = 2000
OVERLOAD_EPS = 5000
PHASES = ("warm", "nominal", "overload")
DRAIN_TIMEOUT_S = 60.0
DURATIONS = (
    "triggerExecution",
    "addBatch",
    "walCommit",
    "commitOffsets",
    "queryPlanning",
    "getBatch",
    "latestOffset",
)
SCHEMA = "event_id long, key string, created_us long"

LAYERS = (
    "streaming.lifetime.batch_s",
    "generator.late_s",
    *(
        f"streaming.{b}.{m}"
        for b in SHARES
        for m in (
            *(f"{d}_ms" for d in DURATIONS),
            "input_rows",
            "batches",
            "queue_wait_s",
            "backlog_events",
            "backlog_slope_eps",
        )
    ),
)


def _config():
    from prioritizing_event_processing_with_apache_kafka_spark import BucketPriorityConfig

    return BucketPriorityConfig(
        topic=TOPIC,
        buckets=[b for b, _ in STREAM_BUCKETS],
        allocation=[f"{a}%" for _, a in STREAM_BUCKETS],
    )


def _listener(records: list, lock: threading.Lock):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with lock:
                records.append((p.name, p.batchId, p.numInputRows, dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def _read(path: str, columns: list[str], **kw) -> dict[str, np.ndarray]:
    if not os.path.isdir(path) or not os.listdir(path):
        return {c: np.zeros(0, dtype=np.int64) for c in columns}
    t = ds.dataset(path, format="parquet", **kw).to_table(columns=columns)
    return {c: t[c].to_numpy() for c in columns}


class PriorityStream:
    name = "priority_stream"

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "stream")
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("src", "out", "chk", "state"):
            os.makedirs(os.path.join(self.root, sub))
        self.lock = threading.Lock()
        self.batches: list[tuple] = []  # (bucket, batch_id, start, end, rows so far)
        self.progress: list[tuple] = []
        self.queries: dict = {}
        self.listener = None
        self.gen = None
        self.start: dict[str, float] = {}  # phase -> start time, plus "end"
        self.summary: dict = {}

    def _path(self, kind: str, bucket: str) -> str:
        return os.path.join(self.root, kind, bucket)

    def _foreach(self, bucket: str):
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.lifetime import (
            lifetime_foreach_batch,
            load_counters,
        )
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.sinks import (
            idempotent_parquet_sink,
        )

        state = self._path("state", bucket)
        inner = lifetime_foreach_batch(
            _config(),
            PARTITIONS,
            idempotent_parquet_sink(self._path("out", bucket)),
            state_dir=state,
            key_col="key",
            order_col="event_id",
        )

        def run(batch_df, batch_id: int) -> None:
            start = time.time()
            inner(batch_df, batch_id)
            end = time.time()
            rows = sum(load_counters(state, batch_id).values())
            with self.lock:
                self.batches.append((bucket, batch_id, start, end, rows))
            self.ctx.tracer.record(
                "streaming.lifetime.batch", f"{bucket}-{batch_id}", start, end, rows_so_far=rows
            )

        return run

    def warm_up(self) -> None:
        """Start one query per consume-plan spec on the empty source
        directories; the generator starts in ``measure``."""
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.consume import (
            consume_plan,
        )

        spark = self.ctx.spark
        if self.ctx.trace:
            self.listener = _listener(self.progress, self.lock)
            spark.streams.addListener(self.listener)
        sc = spark.sparkContext
        for spec in consume_plan(_config(), PARTITIONS, total_offsets_per_trigger=FILES_PER_TRIGGER):
            os.makedirs(self._path("src", spec.bucket), exist_ok=True)
            sc.setLocalProperty("spark.scheduler.pool", spec.scheduler_pool)
            self.queries[spec.bucket] = (
                spark.readStream.schema(SCHEMA)
                .option("maxFilesPerTrigger", spec.max_offsets_per_trigger)
                .parquet(self._path("src", spec.bucket))
                .writeStream.queryName(f"bucket-{spec.bucket}")
                .foreachBatch(self._foreach(spec.bucket))
                .option("checkpointLocation", self._path("chk", spec.bucket))
                .start()
            )
        sc.setLocalProperty("spark.scheduler.pool", None)

    def measure(self, seconds: float) -> tuple[int, int]:
        """Run the generator's schedule (warm-up, then ``seconds`` split
        between nominal and overload), drain, and check."""
        schedule = [
            ("warm", WARM_S, NOMINAL_EPS),
            ("nominal", seconds * NOMINAL_SHARE, NOMINAL_EPS),
            ("overload", seconds * (1 - NOMINAL_SHARE), OVERLOAD_EPS),
        ]
        t = time.time() + 0.5
        for name, dur, _ in schedule:
            self.start[name] = t
            t += dur
        self.start["end"] = t
        argv = [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "stream_gen.py"),
            f"--out={self._path('src', '')}",
            f"--seed={self.ctx.seed}",
            f"--start={self.start['warm']!r}",
            f"--file-events={FILE_EVENTS}",
            *(f"--phase={n}:{d}:{r}" for n, d, r in schedule),
            *(f"--share={b}={s}" for b, s in SHARES.items()),
        ]
        self.gen = subprocess.Popen(argv)
        self.gen.wait(timeout=t - time.time() + 30)
        if self.gen.returncode != 0:
            raise RuntimeError(f"generator exited with {self.gen.returncode}")
        with open(os.path.join(self.root, "src", "manifest.jsonl")) as f:
            manifest = [json.loads(line) for line in f]
        generated = {b: sum(r["n"] for r in manifest if r["bucket"] == b) for b in SHARES}
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            with self.lock:
                sunk = {b: max((x[4] for x in self.batches if x[0] == b), default=0) for b in SHARES}
            if all(sunk[b] >= generated[b] for b in SHARES):
                break
            if any(not q.isActive for q in self.queries.values()):
                break
            time.sleep(0.2)
        for b, q in self.queries.items():
            if q.exception() is not None:
                self.ctx.log(f"query {b} died: {str(q.exception())[:500]}")
        self._stop_queries()
        return self._evaluate(manifest, generated)

    def _stop_queries(self) -> None:
        for q in self.queries.values():
            q.stop()
        self.queries = {}

    def close(self) -> None:
        self._stop_queries()
        if self.listener is not None:
            self.ctx.spark.streams.removeListener(self.listener)
            self.listener = None
        if self.gen is not None and self.gen.poll() is None:
            self.gen.kill()
            self.gen.wait()

    # -- offline evaluation -------------------------------------------------

    def _evaluate(self, manifest: list[dict], generated: dict) -> tuple[int, int]:
        """Check every bucket's sink against its source files, and
        derive per-event latency and the backlog grid."""
        from prioritizing_event_processing_with_apache_kafka_spark import compute_layout

        layout = {r.bucket: r for r in compute_layout(PARTITIONS, list(STREAM_BUCKETS), topic=TOPIC)}
        with self.lock:
            batches = sorted(self.batches, key=lambda x: x[3])
        failed = 0
        self.summary = {"late": [r["written"] - r["due"] for r in manifest]}
        bounds = [self.start["nominal"], self.start["overload"]]
        for b in SHARES:
            n = generated[b]
            src = _read(self._path("src", b), ["event_id", "created_us"])
            created = np.full(n, np.nan)
            created[src["event_id"]] = src["created_us"] / 1e6
            out = _read(
                self._path("out", b),
                ["event_id", "seq", "partition", "__batch_id"],
                partitioning="hive",
                ignore_prefixes=[".", "_SUCCESS"],
            )
            ids, seq, part = out["event_id"], out["seq"], out["partition"]
            uniq = np.unique(ids)
            bad = n - int(np.isin(np.arange(n), uniq).sum()) + (len(ids) - len(uniq))
            bad += int(((uniq < 0) | (uniq >= n)).sum())
            if not np.array_equal(np.sort(seq), np.arange(len(seq))):
                bad = max(bad, int((np.sort(seq) != np.arange(len(seq))).sum()))
                self.ctx.log(f"{b}: lifetime seq does not run 0..n-1")
            r = layout[b]
            wrong = int((part != r.partition_lo + seq % r.size).sum())
            if wrong:
                self.ctx.log(f"{b}: {wrong} rows not in partition lo + seq % size")
            bad = max(bad, wrong)
            if bad:
                self.ctx.log(f"{b}: {bad} of {n} events missing or wrong in the sink")
            failed += min(bad, n)

            mine = [x for x in batches if x[0] == b]
            began = {x[1]: x[2] for x in mine}
            ended = {x[1]: x[3] for x in mine}
            ok = (ids >= 0) & (ids < n)
            c = created[ids[ok]]
            bid = out["__batch_id"][ok].tolist()
            commit = np.array([ended.get(x, np.nan) for x in bid])
            phase = np.searchsorted(bounds, c, side="right")
            self.summary[b] = {
                "latency": {p: (commit - c)[phase == i] for i, p in enumerate(PHASES)},
                "wait": (np.array([began.get(x, np.nan) for x in bid]) - c)[phase > 0],
                "backlog": self._backlog([m for m in manifest if m["bucket"] == b], mine),
                "measured": [x for x in mine if x[2] >= self.start["nominal"]],
                "sunk": [(x[3], x[4] - (mine[i - 1][4] if i else 0)) for i, x in enumerate(mine)],
            }
        return sum(generated.values()), failed

    def _backlog(self, files: list[dict], batches: list[tuple]) -> dict:
        """Events in written files minus events committed, on a 1 Hz
        grid from the schedule start to the last commit."""
        written = np.array([f["written"] for f in files])
        n = np.array([f["n"] for f in files])
        ends = np.array([x[3] for x in batches])
        done = np.maximum.accumulate(np.array([x[4] for x in batches])) if batches else ends
        last = max(ends.max() if len(ends) else 0.0, self.start["end"])
        grid = np.arange(self.start["warm"], last + 1.0, 1.0)
        idx = np.searchsorted(ends, grid, side="right") - 1
        committed = np.where(idx >= 0, done[np.maximum(idx, 0)] if len(done) else 0, 0)
        return {"t": grid, "events": np.array([n[written <= t].sum() for t in grid]) - committed}

    def _slope(self, bucket: str) -> float:
        """Least-squares backlog growth over the overload phase."""
        bl = self.summary[bucket]["backlog"]
        sel = (bl["t"] >= self.start["overload"]) & (bl["t"] <= self.start["end"])
        if sel.sum() < 2:
            return 0.0
        return float(np.polyfit(bl["t"][sel], bl["events"][sel], 1)[0])

    def _drain_eps(self) -> float:
        """Events committed per second, all buckets, from the first
        commit in the overload phase to the last commit: the rows of
        every batch committed after that first one, over the interval."""
        sunk = sorted(
            x for b in SHARES for x in self.summary[b]["sunk"] if x[0] >= self.start["overload"]
        )
        if len(sunk) < 2:
            return 0.0
        return sum(n for _, n in sunk[1:]) / (sunk[-1][0] - sunk[0][0])

    def _latency(self, bucket: str, phase: str) -> dict:
        lat = self.summary[bucket]["latency"][phase]
        return describe(lat[~np.isnan(lat)].tolist())

    def end_to_end(self) -> tuple[dict, list[str]]:
        lines = []
        for b in SHARES:
            d = self._latency(b, "nominal")
            lines.append(
                f"{b.lower()}_p50_s {d['p50']:.4f} s, {b.lower()}_p99_s (p{d['tail_p']:g}) "
                f"{d['tail']:.4f} s over {d['n']} events at {NOMINAL_EPS} events/s offered"
            )
        drain = self._drain_eps()
        over = self._latency("Platinum", "overload")
        lines.append(f"drain_eps {drain:.1f} events/s at {OVERLOAD_EPS} events/s offered")
        lines.append(
            f"overload_platinum_p50_s {over['p50']:.4f} s, p{over['tail_p']:g} "
            f"{over['tail']:.4f} s over {over['n']} events"
        )
        slopes = {b: self._slope(b) for b in SHARES}
        held = abs(slopes["Platinum"]) < 0.1 * slopes["Gold"]
        lines.append(
            "overload backlog slope: "
            + ", ".join(f"{b} {v:.1f} events/s" for b, v in slopes.items())
            + f" (prediction Platinum flat while Gold grows: {'held' if held else 'not held'})"
        )
        late = self.summary["late"]
        lines.append(
            f"generator late: max {max(late):.4f} s, median {statistics.median(late):.4f} s "
            f"over {len(late)} files"
        )
        return {"p50_s": over["p50"], "ops_per_s": drain}, lines

    def live_layers(self, restart) -> dict:
        return {}

    def per_layer(self, counters: dict[int, dict]) -> dict:
        out = {}
        batch_s = []
        with self.lock:
            progress = list(self.progress)
        for b in SHARES:
            s = self.summary[b]
            batch_s += [x[3] - x[2] for x in s["measured"]]
            ids = {x[1] for x in s["measured"]}
            mine = [p for p in progress if p[0] == f"bucket-{b}" and p[1] in ids]
            for key in DURATIONS:
                vals = [p[3].get(key, 0) for p in mine]
                out[f"streaming.{b}.{key}_ms"] = statistics.median(vals) if vals else 0
            out[f"streaming.{b}.input_rows"] = sum(p[2] for p in mine)
            out[f"streaming.{b}.batches"] = len(mine)
            wait = s["wait"][~np.isnan(s["wait"])]
            out[f"streaming.{b}.queue_wait_s"] = float(np.median(wait)) if len(wait) else 0.0
            bl = s["backlog"]["events"]
            out[f"streaming.{b}.backlog_events"] = int(bl.max()) if len(bl) else 0
            out[f"streaming.{b}.backlog_slope_eps"] = self._slope(b)
        out["streaming.lifetime.batch_s"] = statistics.median(batch_s) if batch_s else 0.0
        out["generator.late_s"] = max(self.summary["late"])
        return out
