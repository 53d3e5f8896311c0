"""``route_batch``: a closed loop with one client routing a seeded
keyed-event parquet set.

One operation is one ``operators.routing.route()`` call in ``exact``,
``spread`` or ``hash`` mode, materialised through the noop sink with
its per-status and per-(bucket, partition) record counts observed in
the same pass. A round is one call in each mode. Outside the timing,
every call's counts are checked against what was generated; on the
warm-up calls ``routed_distribution`` must also agree with them.
"""

from __future__ import annotations

import hashlib
import statistics
import time

from common import SPARK_COUNTERS, describe
from inputs import ROUTE_BUCKETS, ROUTE_PARTITIONS, ROUTE_TOPIC, keyed_events

MODES = ("exact", "spread", "hash")
STATUSES = ("routed", "unroutable", "starved", "bypassed")
LAYERS = (
    "functions.extract_bucket_s",
    *(f"operators.routing.route_{m}_s" for m in MODES),
    *(f"spark.route_{m}.{c}" for m in MODES for c in SPARK_COUNTERS),
    "operators.routing.routed_frac",
    *(f"operators.routing.{s}" for s in STATUSES[1:]),
    "operators.routing.route_exact_1core_s",
    "operators.routing.exact_1core_hash_equal",
)


def _config():
    from prioritizing_event_processing_with_apache_kafka_spark import BucketPriorityConfig

    return BucketPriorityConfig(
        topic=ROUTE_TOPIC,
        buckets=[b for b, _ in ROUTE_BUCKETS],
        allocation=[f"{a}%" for _, a in ROUTE_BUCKETS],
    )


def _route(df, mode: str):
    from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import route

    return route(
        df,
        _config(),
        ROUTE_PARTITIONS,
        topic_col="topic",
        order_col="record_id" if mode == "exact" else None,
        mode=mode,
    )


def observe(routed, mode: str):
    """``(frame, observation)``: ``routed`` with its per-status,
    per-bucket and per-(bucket, partition) record counts, and the count
    of unconfigured-bucket records that got a partition, attached as
    observed metrics. The numbers the check needs come out of the same
    pass that materialises the call; no extra job runs."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    bucket, part = F.col("bucket"), F.col("partition")
    names = [b for b, _ in ROUTE_BUCKETS]
    exprs = [F.count(F.when(F.col("route_status") == s, 1)).alias(s) for s in STATUSES]
    exprs += [F.count(F.when(bucket == b, 1)).alias(f"total:{b}") for b in names]
    exprs += [
        F.count(F.when((bucket == b) & (part == p), 1)).alias(f"{b}:{p}")
        for b in names
        for p in range(ROUTE_PARTITIONS)
    ]
    stray = (bucket.isNull() | ~bucket.isin(names)) & part.isNotNull()
    exprs.append(F.count(F.when(stray, 1)).alias("stray"))
    obs = Observation(f"route-{mode}-{time.monotonic_ns()}")
    return routed.observe(obs, *exprs), obs


def check(counts: dict, mode: str, expected: dict) -> tuple[list[str], str]:
    """``(problems, distribution_hash)`` from one call's observed
    counts: per-bucket totals and per-status counts equal what was
    generated, every record of a bucket lies in its range and, in exact
    mode, each partition holds the floor/ceil share the layout
    implies."""
    from prioritizing_event_processing_with_apache_kafka_spark import compute_layout

    digest = hashlib.sha256(repr(sorted(counts.items())).encode()).hexdigest()
    problems = []
    status = {s: counts[s] for s in STATUSES}
    if status != expected["status"]:
        problems.append(f"{mode}: route_status counts {status} != {expected['status']}")
    if counts["stray"]:
        problems.append(f"{mode}: {counts['stray']} unconfigured-bucket records got a partition")
    layout = compute_layout(ROUTE_PARTITIONS, list(ROUTE_BUCKETS), topic=ROUTE_TOPIC)
    for r in layout:
        total = counts[f"total:{r.bucket}"]
        if total != expected["bucket_totals"][r.bucket]:
            problems.append(f"{mode}: {r.bucket} total {total} != {expected['bucket_totals'][r.bucket]}")
        got = {p: counts[f"{r.bucket}:{p}"] for p in range(ROUTE_PARTITIONS)}
        inside = sum(got[p] for p in r.partitions)
        if inside != total:
            problems.append(f"{mode}: {total - inside} {r.bucket} records outside {r.partitions}")
        if mode == "exact":
            q, extra = divmod(total, r.size)
            want = {p: q + (1 if j < extra else 0) for j, p in enumerate(r.partitions)}
            if {p: got[p] for p in r.partitions} != want:
                problems.append(f"{mode}: {r.bucket} per-partition counts {got} != {want}")
    return problems, digest


def distribution_matches(routed, counts: dict) -> bool:
    """``routed_distribution`` agrees with the observed per-(bucket,
    partition) counts of the configured buckets."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
        routed_distribution,
    )

    names = {b for b, _ in ROUTE_BUCKETS}
    dist = {
        f"{r['bucket']}:{r['partition']}": r["record_count"]
        for r in routed_distribution(routed).collect()
        if r["bucket"] in names and r["partition"] is not None
    }
    observed = {k: v for k, v in counts.items() if ":" in k and not k.startswith("total") and v}
    return dist == observed


class RouteBatch:
    name = "route_batch"

    def __init__(self, ctx):
        self.ctx = ctx
        self.path, self.expected = keyed_events(ctx.work, ctx.seed)
        self.calls: dict[str, list[float]] = {m: [] for m in MODES}
        self.rounds: list[float] = []
        self.hashes: dict[str, str] = {}
        self.status: dict = {}

    def _events(self):
        return self.ctx.spark.read.parquet(self.path)

    def _call(self, mode: str, op: str) -> float:
        """One timed route call, then its untimed check; returns the
        call's seconds. Raises on a failed check."""
        from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
            cache_scope,
        )

        with cache_scope():
            routed, obs = observe(_route(self._events(), mode), mode)
            with self.ctx.tracer.span(f"operators.routing.route_{mode}", op=op) as s:
                routed.write.format("noop").mode("overwrite").save()
            counts = {k: int(v) for k, v in obs.get.items()}
            problems, digest = check(counts, mode, self.expected)
            if op.startswith("warm") and not distribution_matches(routed, counts):
                problems.append(f"{mode}: routed_distribution differs from the observed counts")
        if problems:
            raise AssertionError("; ".join(problems))
        self.hashes[mode] = digest
        self.status = {s: counts[s] for s in STATUSES}
        return s.seconds

    def warm_up(self) -> None:
        for mode in MODES:
            self._call(mode, op=f"warm-{mode}")

    def measure(self, seconds: float) -> tuple[int, int]:
        attempted = failed = 0
        deadline = time.monotonic() + seconds
        r = 0
        while r < 3 or time.monotonic() < deadline:
            times = {}
            for mode in MODES:
                attempted += 1
                try:
                    times[mode] = self._call(mode, op=f"round{r}-{mode}")
                except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                    failed += 1
                    self.ctx.log(f"route {mode} failed: {exc}")
            if len(times) == len(MODES):
                for mode, t in times.items():
                    self.calls[mode].append(t)
                self.rounds.append(sum(times.values()))
            r += 1
        return attempted, failed

    def end_to_end(self) -> tuple[dict, list[str]]:
        n = self.expected["events"]
        rounds = describe(self.rounds)
        lines = [
            f"route_{m}_eps {n / describe(self.calls[m])['p50']:.1f} events/s "
            f"(median of {len(self.calls[m])} calls of {n} events)"
            for m in MODES
        ]
        lines.append(
            f"round p50 {rounds['p50']:.4f} s, p{rounds['tail_p']:g} {rounds['tail']:.4f} s "
            f"over {rounds['n']} rounds"
        )
        metrics = {
            "p50_s": rounds["p50"],
            "ops_per_s": len(MODES) * n / sum(describe(v)["p50"] for v in self.calls.values()),
        }
        return metrics, lines

    def per_layer(self, counters: dict[int, dict]) -> dict:
        tracer = self.ctx.tracer
        out = {}
        for mode in MODES:
            out[f"operators.routing.route_{mode}_s"] = statistics.median(self.calls[mode])
            spans = [
                s
                for s in tracer.named(f"operators.routing.route_{mode}")
                if s.op.startswith("round")
            ]
            for c in SPARK_COUNTERS:
                vals = [counters.get(s.sid, {}).get(c, 0) for s in spans]
                out[f"spark.route_{mode}.{c}"] = statistics.median(vals)
        st = self.status
        out["operators.routing.routed_frac"] = st["routed"] / max(1, sum(st.values()))
        for s in ("unroutable", "starved", "bypassed"):
            out[f"operators.routing.{s}"] = st[s]
        return out

    def close(self) -> None:
        pass

    def _extract_bucket_s(self) -> float:
        """Key parsing alone, over the whole input, through noop."""
        from pyspark.sql import functions as F

        from prioritizing_event_processing_with_apache_kafka_spark.functions.keys import (
            extract_bucket,
        )

        times = []
        for i in range(3):
            with self.ctx.tracer.span("functions.extract_bucket", op=f"keys{i}") as s:
                self._events().select(extract_bucket(F.col("key")).alias("b")).write.format(
                    "noop"
                ).mode("overwrite").save()
            times.append(s.seconds)
        return statistics.median(times)

    def live_layers(self, restart) -> dict:
        """Traced run, session still up: key parsing alone, then exact
        mode once at ``local[1]`` (its time, and whether its
        distribution hash equals the N-core one)."""
        extract_s = self._extract_bucket_s()
        restart("local[1]")
        routed, obs = observe(_route(self._events(), "exact"), "exact")
        with self.ctx.tracer.span("operators.routing.route_exact_1core", op="1core") as s:
            routed.write.format("noop").mode("overwrite").save()
        problems, digest = check({k: int(v) for k, v in obs.get.items()}, "exact", self.expected)
        same = not problems and digest == self.hashes.get("exact")
        if not same:
            self.ctx.log(f"1-core exact differs: {problems or 'distribution hash'}")
        return {
            "functions.extract_bucket_s": extract_s,
            "operators.routing.route_exact_1core_s": s.seconds,
            "operators.routing.exact_1core_hash_equal": 1 if same else 0,
        }
