"""``query_mix``: a closed loop over a fixed list of oracle-checked
inventory queries on seeded fixture-style tables.

One operation is one query collected to the driver (``toPandas``).
Every result is compared, outside its timing, with the hash of the
query's DuckDB ``oracle_sql`` answer over the same files, computed once
before set-up.
"""

from __future__ import annotations

import hashlib
import statistics
import time

from common import describe
from inputs import fixture_tables

QUERY_SF = 0.01
QUERY_NAMES = (
    "route_events_exact",
    "priority_drain_schedule",
    "route_rendezvous",
    "q3_shipping_priority",
    "dedup_edit_distance",
    "semantic_dedup",
    "text_repetition",
    "dedup_incremental",
    "stream_route_lifetime",
    "stream_rfm_incremental",
)
LAYERS = (
    "sources.load_table_s",
    *(f"inventory.{n}_s" for n in QUERY_NAMES),
    *(f"spark.inventory.{n}.jobs" for n in QUERY_NAMES),
)
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _registries():
    from prioritizing_event_processing_with_apache_kafka_spark import (
        inventory,
        inventory_pipeline,
    )

    queries = {**inventory.QUERIES, **inventory_pipeline.PIPELINE_QUERIES}
    oracles = {**inventory.ORACLES, **inventory_pipeline.PIPELINE_ORACLES}
    return queries, oracles


def _cell(v) -> str:
    if hasattr(v, "tolist"):
        v = v.tolist()
    return str(v)


def result_hash(pdf) -> str:
    """Order-insensitive hash of a result: columns by name, integer and
    float widths unified, timestamps naive UTC micros, rows sorted."""
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for col in pdf.columns:
        s = pdf[col]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            pdf[col] = s.dt.tz_convert("UTC").dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_datetime64_any_dtype(s):
            pdf[col] = s.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            pdf[col] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            pdf[col] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            pdf[col] = s.astype("float64")
        else:
            pdf[col] = s.map(_cell)
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    digest = hashlib.sha256(repr(list(pdf.columns)).encode())
    digest.update(pd.util.hash_pandas_object(pdf, index=False).values.tobytes())
    return digest.hexdigest()


def oracle_hashes(sf_dir: str, names) -> dict[str, str]:
    import duckdb

    _, oracles = _registries()
    conn = duckdb.connect()
    try:
        for t in TABLES:
            conn.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {n: result_hash(conn.execute(oracles[n]).df()) for n in names}
    finally:
        conn.close()


class QueryMix:
    name = "query_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = fixture_tables(ctx.work, ctx.seed, QUERY_SF)
        self.expected = oracle_hashes(self.sf_dir, QUERY_NAMES)
        self.times: dict[str, list[float]] = {n: [] for n in QUERY_NAMES}

    def _run(self, name: str, op: str) -> float:
        from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
            cache_scope,
        )

        queries, _ = _registries()
        with cache_scope():
            with self.ctx.tracer.span(f"inventory.{name}", op=op) as s:
                pdf = queries[name](self.ctx.spark, self.sf_dir).toPandas()
        got = result_hash(pdf)
        if got != self.expected[name]:
            raise AssertionError(f"{name}: result hash differs from the oracle's")
        return s.seconds

    def warm_up(self) -> None:
        for name in QUERY_NAMES:
            self._run(name, op=f"warm-{name}")

    def measure(self, seconds: float) -> tuple[int, int]:
        attempted = failed = 0
        deadline = time.monotonic() + seconds
        p = 0
        while p < 2 or time.monotonic() < deadline:
            for name in QUERY_NAMES:
                attempted += 1
                try:
                    self.times[name].append(self._run(name, op=f"pass{p}-{name}"))
                except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                    failed += 1
                    self.ctx.log(f"query {name} failed: {exc}")
            p += 1
        return attempted, failed

    def end_to_end(self) -> tuple[dict, list[str]]:
        stats = {n: describe(t) for n, t in self.times.items() if t}
        lines = [
            f"{n}: p50 {d['p50']:.4f} s, p{d['tail_p']:g} {d['tail']:.4f} s over {d['n']} runs"
            for n, d in stats.items()
        ]
        mix = sum(d["p50"] for d in stats.values())
        lines.append(f"query_mix_s {mix:.4f} s (sum of per-query medians, sf{QUERY_SF:g})")
        total = sum(len(t) for t in self.times.values())
        return {
            "p50_s": mix,
            "ops_per_s": total / sum(sum(t) for t in self.times.values()),
        }, lines

    def live_layers(self, restart) -> dict:
        """``sources.load_table`` alone: every table scanned through noop."""
        from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
            load_table,
        )

        runs = []
        for i in range(3):
            with self.ctx.tracer.span("sources.load_table", op=f"load{i}") as s:
                for t in TABLES:
                    load_table(self.ctx.spark, self.sf_dir, t).write.format("noop").mode(
                        "overwrite"
                    ).save()
            runs.append(s.seconds)
        return {"sources.load_table_s": statistics.median(runs)}

    def per_layer(self, counters: dict[int, dict]) -> dict:
        out = {}
        for name in QUERY_NAMES:
            out[f"inventory.{name}_s"] = statistics.median(self.times[name])
            spans = [
                s for s in self.ctx.tracer.named(f"inventory.{name}") if s.op.startswith("pass")
            ]
            jobs = [counters.get(s.sid, {}).get("jobs", 0) for s in spans]
            out[f"spark.inventory.{name}.jobs"] = statistics.median(jobs) if jobs else 0
        return out

    def close(self) -> None:
        pass
