"""Shared machinery of the benchmark: work directory, Spark session,
spans with Spark-counter attribution, and summary statistics.

Everything the benchmark writes lives under ``.perfbench_work/`` in the
checkout root (the directory above ``perfbench/``), including Spark's
local dirs, the JVM's temp dir and the event log of a traced run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "prioritizing_event_processing_with_apache_kafka_spark"
# The program under test is imported from the checkout the benchmark
# sits in, never from an installed copy.
sys.path.insert(0, ROOT)

# The stream workload's bucket config; every workload builds its session
# with the same FAIR pools so the conf never differs between workloads.
STREAM_BUCKETS = (("Platinum", 70), ("Gold", 30))


def work_dir() -> str:
    path = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(path, exist_ok=True)
    return path


def host_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(env) if env.isdigit() and int(env) > 0 else (os.cpu_count() or 1)


def driver_memory_gb() -> int:
    """A quarter of host RAM, 1..8 GB: the local driver is also every
    executor, and the host is shared with the generator process."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_gb = int(line.split()[1]) / (1 << 20)
                return max(1, min(8, int(total_gb // 4)))
    return 2


def _write_fair_pools(path: str) -> None:
    pools = "".join(
        f'  <pool name="bucket-{b}"><schedulingMode>FIFO</schedulingMode>'
        f"<weight>{alloc}</weight><minShare>0</minShare></pool>\n"
        for b, alloc in STREAM_BUCKETS
    )
    with open(path, "w") as f:
        f.write(f'<?xml version="1.0"?>\n<allocations>\n{pools}</allocations>\n')


def session_conf(work: str, cpus: int, *, trace: bool) -> dict[str, str]:
    """One conf for every workload; a traced run adds only the event-log
    keys."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pools = os.path.join(work, "fairscheduler.xml")
    _write_fair_pools(pools)
    mem = f"{driver_memory_gb()}g"
    conf = {
        "spark.driver.memory": mem,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.scheduler.mode": "FAIR",
        "spark.scheduler.allocation.file": pools,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed-size heap and the throughput collector: heap resizing
        # and concurrent-GC pauses otherwise differ from one JVM to the
        # next and show as run-to-run spread.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
            f"-Xms{mem} -XX:+UseParallelGC"
        ),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def pin_process_env(work: str) -> None:
    """Keep the JVM, Python workers and ``tempfile`` inside ``work``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)


def build_session(conf: dict[str, str], master: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(master).appName("perfbench")
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail(samples: list[float]) -> tuple[float, float]:
    """``(p, value)``: the highest percentile in a fixed ladder with at
    least ten samples beyond it; the maximum (p=100) when the sample is
    too small for any of them."""
    n = len(samples)
    ordered = sorted(samples)
    for p in _LADDER:
        if n * (100.0 - p) / 100.0 >= 10:
            return p, ordered[min(n - 1, int(n * p / 100.0))]
    return 100.0, ordered[-1]


def describe(samples: list[float]) -> dict:
    p, value = tail(samples)
    return {
        "n": len(samples),
        "p50": statistics.median(samples),
        "tail_p": p,
        "tail": value,
    }


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around the benchmark's calls into each layer.

    Untraced, a span is only a timer: nothing is kept and no Spark
    property is set. Traced, every span is kept in memory, and the
    Spark jobs its body submits carry the job group ``span-<id>`` so
    the event log attributes jobs, stages, tasks, shuffle and spill to
    the innermost span.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self._sc = None
        self._lock = threading.Lock()

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, name, op, parent.sid if parent else None, 0.0, attrs=attrs)
        self._next += 1
        if self.enabled:
            self._stack.append(s)
            if self._sc is not None:
                self._sc.setJobGroup(f"span-{s.sid}", name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            if self.enabled:
                self._stack.pop()
                self.spans.append(s)
                if self._sc is not None:
                    if parent is not None:
                        self._sc.setJobGroup(f"span-{parent.sid}", parent.name)
                    else:
                        self._sc.setLocalProperty("spark.jobGroup.id", None)
                        self._sc.setLocalProperty("spark.job.description", None)

    def record(self, name: str, op: str, start: float, end: float, **attrs) -> None:
        """Keep a span timed elsewhere, e.g. on a streaming query's own
        thread, where the span stack and job group do not apply."""
        if self.enabled:
            with self._lock:
                self.spans.append(Span(-1, name, op, None, start, end, attrs))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, counters: dict[int, dict] | None = None) -> None:
        counters = counters or {}
        with open(path, "w") as f:
            for s in self.spans:
                row = {
                    "id": s.sid,
                    "name": s.name,
                    "op": s.op,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    **s.attrs,
                    **counters.get(s.sid, {}),
                }
                f.write(json.dumps(row) + "\n")


SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def _event_log_files(log_dir: str) -> list[str]:
    """Rolling event-log files (``eventlog_v2_<app>/events_<n>_<app>``),
    one application after another in start order, parts in order."""
    apps = sorted(
        (os.path.join(log_dir, d) for d in os.listdir(log_dir)),
        key=os.path.getmtime,
    )
    files = []
    for app in apps:
        parts = [p for p in os.listdir(app) if p.startswith("events_")]
        parts.sort(key=lambda p: int(p.split("_")[1]))
        files += [os.path.join(app, p) for p in parts]
    return files


def event_log_counters(log_dir: str) -> dict[int, dict]:
    """Per-span Spark counters from uncompressed event logs: the job
    group ``span-<id>`` of each job and stage names its span."""
    out: dict[int, dict] = {}
    stage_span: dict[tuple[int, int], int] = {}

    def bucket(sid: int) -> dict:
        return out.setdefault(sid, dict.fromkeys(SPARK_COUNTERS, 0))

    def span_of(props: dict | None) -> int | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        return int(group[5:]) if group.startswith("span-") else None

    for path in _event_log_files(log_dir):
        if os.path.basename(path).startswith("events_1_"):
            stage_span.clear()  # a new application numbers stages from 0
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        bucket(sid)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = span_of(ev.get("Properties"))
                    info = ev["Stage Info"]
                    if sid is not None:
                        stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = sid
                        bucket(sid)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    metrics = ev.get("Task Metrics")
                    if sid is None or not metrics:
                        continue
                    b = bucket(sid)
                    b["tasks"] += 1
                    read = metrics.get("Shuffle Read Metrics", {})
                    b["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get(
                        "Local Bytes Read", 0
                    )
                    b["shuffle_write_bytes"] += metrics.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    b["spill_bytes"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
