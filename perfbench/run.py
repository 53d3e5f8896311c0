"""Benchmark entry point.

    python3 perfbench/run.py --workload route_batch --seed 1 --seconds 16 --trace 0

Run from the repository root. Workloads: ``route_batch``,
``priority_stream``, ``query_mix``; ``--workload all`` runs each in
turn. Human-readable lines go to stderr and stdout; the last stdout
line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its spans to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.

Exit code 0 only when a result was printed; any set-up failure (for
instance the package missing from the checkout) exits 2 without one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from common import (
    PACKAGE,
    ROOT,
    Tracer,
    build_session,
    event_log_counters,
    host_cpus,
    pin_process_env,
    session_conf,
    work_dir,
)

SETUP_SAMPLES = 3
WORKLOADS = ("route_batch", "priority_stream", "query_mix")

END_TO_END_UNITS = {"setup_s": "s", "p50_s": "s", "ops_per_s": "1/s"}
COMMON_LAYERS = (
    "plans.compute_layout_us",
    "streaming.consume.consume_plan_us",
    "operators.assignment.assign_us",
    "trace.p50_s",
    "trace.ops_per_s",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Context:
    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work_dir()
        self.cpus = host_cpus()
        if self.trace:  # a traced run attributes every event log in the dir to itself
            shutil.rmtree(os.path.join(self.work, "eventlog"), ignore_errors=True)
        self.conf = session_conf(self.work, self.cpus, trace=self.trace)
        self.tracer = Tracer(self.trace)
        self.spark = None
        self.log = log

    def start(self, master: str | None = None):
        self.spark = build_session(self.conf, master or f"local[{self.cpus}]")
        self.tracer.bind(self.spark)
        return self.spark

    def restart(self, master: str | None = None):
        self.spark.stop()
        return self.start(master)


def first_op(spark) -> None:
    """The first untimed operation of a fresh session: route 1,000
    in-memory keyed records through the noop sink."""
    from prioritizing_event_processing_with_apache_kafka_spark import BucketPriorityConfig
    from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import route

    cfg = BucketPriorityConfig(topic="t", buckets=["Platinum", "Gold"], allocation=["70%", "30%"])
    rows = [(i, "t", f"{'Platinum' if i % 3 else 'Gold'}-{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "record_id long, topic string, key string")
    route(df, cfg, 12, topic_col="topic").write.format("noop").mode("overwrite").save()


def import_seconds() -> float:
    """Wall time of this process's first import of pyspark and the
    package's routing and streaming modules."""
    t0 = time.perf_counter()
    __import__("pyspark.sql")
    __import__(f"{PACKAGE}.operators.routing")
    __import__(f"{PACKAGE}.streaming.lifetime")
    return time.perf_counter() - t0


def measure_setup(ctx: Context) -> list[float]:
    """Set-up samples, each import + session + first untimed op. The
    first is the cold start (JVM launch, SparkContext, first JIT); each
    later one opens a new SparkSession on the running context. The
    import is timed once, in this process, and counted in every
    sample."""
    imp = import_seconds()
    samples = []
    for i in range(SETUP_SAMPLES):
        t0 = time.perf_counter()
        if i:
            ctx.spark = ctx.spark.newSession()
        else:
            ctx.start()
        first_op(ctx.spark)
        samples.append(imp + time.perf_counter() - t0)
    return samples


def plan_probe() -> dict:
    """Driver-side planning calls, timed in microseconds (median of
    many calls): they should move set-up time only."""
    from prioritizing_event_processing_with_apache_kafka_spark import (
        BucketPriorityConfig,
        compute_layout,
    )
    from prioritizing_event_processing_with_apache_kafka_spark.operators.assignment import (
        Subscription,
        assign,
    )
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.consume import (
        consume_plan,
    )

    cfg = BucketPriorityConfig(topic="t", buckets=["Platinum", "Gold"], allocation=["70%", "30%"])
    subs = [
        Subscription(f"c{i}", ["t"], bucket="Platinum" if i < 6 else "Gold") for i in range(8)
    ]
    calls = {
        "plans.compute_layout_us": lambda: compute_layout(12, [("Platinum", 70), ("Gold", 30)]),
        "streaming.consume.consume_plan_us": lambda: consume_plan(
            cfg, 12, total_offsets_per_trigger=100, cores_total=4
        ),
        "operators.assignment.assign_us": lambda: assign({"t": 12}, subs, cfg),
    }
    out = {}
    for name, fn in calls.items():
        per_call = []
        for _ in range(7):
            t0 = time.perf_counter()
            for _ in range(200):
                fn()
            per_call.append((time.perf_counter() - t0) / 200 * 1e6)
        out[name] = statistics.median(per_call)
    return out


def make_workload(name: str, ctx: Context):
    """The workload object, its seeded inputs already written. Each
    offers ``warm_up()``, ``measure(seconds) -> (attempted, failed)``,
    ``end_to_end() -> (metrics, lines)``, ``live_layers(restart)``
    (traced runs, session still up), ``per_layer(counters)`` (traced
    runs, after the session stopped) and ``close()``."""
    if name == "route_batch":
        from route_batch import RouteBatch

        return RouteBatch(ctx)
    if name == "priority_stream":
        from priority_stream import PriorityStream

        return PriorityStream(ctx)
    from query_mix import QueryMix

    return QueryMix(ctx)


def layer_names(name: str) -> tuple[str, ...]:
    """Every traced run reports the per-layer metrics of both gated
    workloads (0 where its workload does not exercise the layer), plus
    the query mix's own when it is the workload."""
    import priority_stream
    import route_batch

    names = COMMON_LAYERS + route_batch.LAYERS + priority_stream.LAYERS
    if name == "query_mix":
        import query_mix

        names += query_mix.LAYERS
    return names


LAYER_UNITS = (
    ("_per_s", "1/s"),
    ("_us", "us"),
    ("_ms", "ms"),
    ("_s", "s"),
    ("_bytes", "bytes"),
    ("_frac", "ratio"),
    ("_eps", "events/s"),
)


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def run_one(name: str, args) -> dict:
    ctx = Context(args)
    pin_process_env(ctx.work)
    t0 = time.perf_counter()
    wl = make_workload(name, ctx)  # seeded inputs, outside set-up
    t1 = time.perf_counter()
    setup = measure_setup(ctx)
    try:
        t2 = time.perf_counter()
        wl.warm_up()
        t3 = time.perf_counter()
        attempted, failed = wl.measure(ctx.seconds)
        t4 = time.perf_counter()
        log(
            f"{name}: inputs {t1 - t0:.1f} s, set-up {t2 - t1:.1f} s, "
            f"warm-up {t3 - t2:.1f} s, measure {t4 - t3:.1f} s"
        )
        metrics, lines = wl.end_to_end()
        metrics["setup_s"] = statistics.median(setup)
        for line in lines:
            print(f"{name}: {line}", flush=True)
        print(
            f"{name}: setup_s {metrics['setup_s']:.4f} s (median of {len(setup)}: "
            + ", ".join(f"{s:.3f}" for s in setup)
            + ")",
            flush=True,
        )
        print(f"{name}: failed_frac {failed / max(1, attempted):.4f} ratio", flush=True)
        layer = {}
        if ctx.trace:
            layer.update(plan_probe())
            layer["trace.p50_s"] = metrics["p50_s"]
            layer["trace.ops_per_s"] = metrics["ops_per_s"]
            layer.update(wl.live_layers(ctx.restart))
    finally:
        wl.close()
        ctx.spark.stop()
    if ctx.trace:
        counters = event_log_counters(os.path.join(ctx.work, "eventlog"))
        layer.update(wl.per_layer(counters))
        ctx.tracer.dump(os.path.join(ctx.work, f"spans-{name}-{ctx.seed}.jsonl"), counters)
        out = {k: {"value": layer.get(k, 0), "unit": layer_unit(k)} for k in layer_names(name)}
    else:
        out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it: it exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=16)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"the program under test ({PACKAGE}) is not in {ROOT}")
        return 2
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    try:
        results = [run_one(n, args) for n in names]
    except Exception:  # noqa: BLE001 — report and exit without a result
        traceback.print_exc()
        return 2
    finally:
        stop_jvm()
    last = results[-1]
    if len(results) > 1:
        last = {
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {
                f"{n}.{k}": v for n, r in zip(names, results) for k, v in r["metrics"].items()
            },
        }
    print(json.dumps(last), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
