"""Parallel lifetime-exact routing: counter-block reservation per batch.

The reference keeps one ``AtomicInteger`` per bucket for the producer
process lifetime (``Bucket.java:14,22-29``): record N+1 continues where
record N left off, across batches. ``route_stream_stateful``
(``stateful.py``) reproduces that sequence with one state-store key
per bucket — which serializes each bucket's slice of
every micro-batch into a single task (the r12 grow probe measured 68×
wall at 100× data vs 4–5× for the stateless router). This module keeps
the SAME bit-exact lifetime sequence with full intra-batch parallelism
(VERDICT r12 item 1):

1. **path** — chosen per micro-batch from an input property, the
   batch's ESTIMATED bytes (``_range_partitions``, optimizer stats, no
   job): a batch that fits one ~32 MB range task takes the
   single-task path, a larger one the range path. Both give identical
   rows and counters; only the overhead differs.
2. **single-task path** — ``coalesce(1)``; one
   ``groupBy(bucket).count()`` collect (no exchange: the single
   partition already satisfies the aggregate's clustering) advances
   the counters; ``row_number()`` over ``partitionBy(bucket)
   .orderBy(order_col)`` ranks rows in that same partition, again
   with no exchange. Counter bases and the layout enter as literal
   CASE lookups over the buckets present in the batch (the NULL
   bucket by an explicit ``isNull`` branch). Two Spark jobs per
   micro-batch — the count and the sink's own write — with no
   persist, no Python worker and no session conf change. A batch with
   more than ``_MAX_LITERAL_BUCKETS`` distinct buckets takes the range
   path instead, so the CASE chain stays short.
3. **range path** — distributed per-bucket zip-with-index *within*
   the batch: one range shuffle on (bucket, order) + local sort +
   ``monotonically_increasing_id``, then a tiny per-(task, bucket)
   stats aggregate turns local indices into global batch ranks — the
   same technique as the batch exact router
   (``operators/routing.py:_exact_global_sequence``), here
   NULL-bucket-inclusive so unparseable keys keep their own counter
   exactly like the stateful router's NULL group. The stats
   aggregate also yields per-bucket row counts; adding them to the
   persisted lifetime counters reserves each bucket's contiguous
   block ``[base, base+n)`` for this batch.
4. **assign** (both paths) — ``seq = base(bucket) + rank``;
   ``partition = lo + seq % size`` exactly as ``Bucket.nextPartition``
   computes it (unknown bucket → NULL, starved bucket → -1, reference
   fall-through parity with ``BucketPriorityPartitioner.java:62-84``).

Because every per-bucket block is reserved up front, no task ever
waits on another: the sequence is order-*defined* (by ``order_col``)
but not order-*computed*. The only driver-side data is the per-bucket
counts (single-task path) or the stats aggregate — ``#buckets ×
#range-tasks`` rows, a few KB even at 1000 executors — the same
loop-control-scalar scale as the layout itself. The single-task path
reads the micro-batch twice (count, then the sink's write), which
relies on the batch being replayable — the same property the
exactly-once recovery below already requires.

**State**: the lifetime counters are a ``#buckets``-entry JSON file
per micro-batch, versioned by batch id (``counters-after-{B}.json`` =
state after batch B committed). Structured Streaming replays at most
the last uncommitted batch with the SAME batch id after a crash, so
batch B always reads ``counters-after-{B-1}`` and deterministically
(re)writes ``counters-after-{B}`` — idempotent exactly-once
continuation, the same recovery contract the state-store router gets
from checkpointing, at #buckets-row cost instead of state-store I/O.

Keys are expected to be strings (the reference only parses
``key instanceof String``, ``BucketPriorityPartitioner.java:69``);
non-parseable keys land in the NULL-bucket group with NULL partition,
matching ``route_stream_stateful``.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.functions.keys import extract_bucket
from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import scoped_persist
from prioritizing_event_processing_with_apache_kafka_spark.plans.config import (
    BucketPriorityConfig,
)
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout
from prioritizing_event_processing_with_apache_kafka_spark.sources.local import local_frame
from prioritizing_event_processing_with_apache_kafka_spark.streaming.stateful import (
    stateful_output_schema,
)

__all__ = [
    "route_batch_lifetime",
    "lifetime_foreach_batch",
    "load_counters",
]

_MID_LOCAL_MASK = (1 << 33) - 1


def _range_partitions(batch_df: DataFrame, *, target_mb: int = 32) -> int:
    """Range-shuffle partition count for one micro-batch, sized from
    the batch's ESTIMATED bytes (optimizer stats — file sizes for a
    file-source micro-batch; no job runs), ~``target_mb`` of
    decompressed data per sort partition assuming ~3x parquet
    expansion, clamped to [1, 4096].

    Sized from DATA, not core count (r13, guide §2.2/§2.5): the rank
    shuffle's cost is per-partition scheduling + sampling overhead at
    fixture scale and sort-buffer pressure at 100 TB — a fixed
    core-count constant is wrong at both ends. The rank arithmetic is
    partition-count-invariant (global order across (pid, local id) is
    what defines the sequence), so this only moves overhead, never
    results."""
    try:
        nbytes = int(
            batch_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return batch_df.sparkSession.sparkContext.defaultParallelism
    if nbytes >= 1 << 60:
        # Stats unavailable: Spark reports the spark.sql.defaultSizeInBytes
        # sentinel (Long.MaxValue) for plans without size estimates (e.g.
        # non-file micro-batch sources). Trusting it would clamp to 4096
        # range partitions per micro-batch (ADVICE r13, medium); fall back
        # to the scheduler default like the except branch.
        return batch_df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(4096, -(-nbytes * 3 // (target_mb << 20))))


# Most distinct buckets one batch may hold and still take the
# single-task path. That path looks each bucket's counter base up in a
# literal CASE chain (one comparison per branch per row), and a key with
# no delimiter is its own bucket, so unparseable keys could otherwise
# grow the chain with the batch. Beyond it the range path's broadcast
# offsets join does the lookup instead; both paths give identical rows.
_MAX_LITERAL_BUCKETS = 64


def route_batch_lifetime(
    batch_df: DataFrame,
    config: BucketPriorityConfig,
    num_partitions: int,
    base_counters: dict[str | None, int] | None = None,
    *,
    key_col: str = "key",
    order_col: str = "event_id",
) -> tuple[DataFrame, dict[str | None, int]]:
    """Route one bounded batch, continuing the lifetime sequence from
    ``base_counters`` (bucket → next seq value; missing buckets start
    at 0). Returns ``(routed, new_counters)`` where ``routed`` has the
    stateful router's exact output shape ``(order_col, key_col,
    bucket, partition, seq)`` and ``new_counters`` is the advanced
    counter map to feed the next batch.

    A batch whose estimated size fits one range partition takes the
    single-task path and runs one Spark job here (the count collect);
    routing it is part of the caller's sink action. A larger batch
    takes the range path, whose returned frame carries a
    ``_peps_exact_cache`` handle (the persisted rank midframe) so
    bounded-lifetime callers can unpersist eagerly after sinking —
    same contract as ``route(mode='exact')``.
    """
    base_counters = base_counters or {}

    tagged = batch_df.select(order_col, key_col).withColumn(
        "bucket", extract_bucket(F.col(key_col), config.delimiter)
    )
    # The layout is a pure driver-side function of (config,
    # num_partitions): both paths fold (partition_lo, size) in as
    # per-bucket constants instead of joining a layout frame. A bucket
    # absent from it (unknown, or the NULL bucket) routes to NULL; a
    # starved bucket (size 0) routes to -1.
    layout = {
        r.bucket: (r.partition_lo, r.size)
        for r in compute_layout(
            num_partitions, config.buckets_with_allocation(), topic=config.topic
        )
    }
    nparts = _range_partitions(batch_df)
    if nparts == 1:
        single = tagged.coalesce(1)
        # One job, no exchange: SinglePartition already satisfies the
        # aggregate's clustering. The counters come from their own
        # collect, not from observe() on the sink's action, so they do
        # not depend on what the sink does with the frame.
        counts = {
            r["bucket"]: int(r["count"])
            for r in single.groupBy("bucket").count().collect()
        }
        if len(counts) <= _MAX_LITERAL_BUCKETS:
            new_counters = dict(base_counters)
            for b, n in counts.items():
                new_counters[b] = new_counters.get(b, 0) + n
            routed = _route_single_task(
                single,
                {b: base_counters.get(b, 0) for b in counts},
                {b: layout[b] for b in counts if b in layout},
                key_col=key_col,
                order_col=order_col,
            )
            return routed, new_counters
    return _route_ranged(
        tagged,
        nparts,
        base_counters,
        layout,
        key_col=key_col,
        order_col=order_col,
    )


def _bucket_case(values: dict[str | None, Column], dtype: str) -> Column:
    """CASE over the ``bucket`` column, one branch per entry of
    ``values`` (the NULL bucket matched by ``isNull``); any other
    bucket gets NULL."""
    bucket = F.col("bucket")
    expr = None
    for b, value in values.items():
        cond = bucket.isNull() if b is None else bucket == F.lit(b)
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)
    return (F.lit(None) if expr is None else expr).cast(dtype)


def _route_single_task(
    single: DataFrame,
    bases: dict[str | None, int],
    layout: dict[str, tuple[int, int]],
    *,
    key_col: str,
    order_col: str,
) -> DataFrame:
    """Rank and assign a one-partition batch in the sink's own task.

    ``bases`` holds the counter base of every bucket in the batch and
    ``layout`` the (partition_lo, size) of those that are configured.
    The window's clustering on ``bucket`` is satisfied by the single
    partition, so the plan has a local sort and no exchange."""
    rank = F.row_number().over(Window.partitionBy("bucket").orderBy(order_col))
    base = _bucket_case({b: F.lit(v) for b, v in bases.items()}, "long")
    ranked = single.withColumn("seq", (base + rank - 1).cast("long"))
    partition = _bucket_case(
        {
            # seq >= 0 always (counters start at 0 and only grow), so %
            # equals pmod — same arithmetic as Bucket.nextPartition.
            b: F.lit(-1) if size == 0 else F.lit(lo) + F.col("seq") % size
            for b, (lo, size) in layout.items()
        },
        "int",
    )
    return ranked.select(
        F.col(order_col),
        F.col(key_col),
        F.col("bucket"),
        partition.alias("partition"),
        F.col("seq"),
    )


def _route_ranged(
    tagged: DataFrame,
    nparts: int,
    base_counters: dict[str | None, int],
    layout: dict[str, tuple[int, int]],
    *,
    key_col: str,
    order_col: str,
) -> tuple[DataFrame, dict[str | None, int]]:
    """Range-shuffle rank for a batch larger than one partition."""
    spark = tagged.sparkSession
    # Distributed zip-with-index (routing.py:_exact_global_sequence's
    # technique, NULL-group-inclusive): after the range shuffle +
    # local sort, a bucket's rows are globally ordered across task
    # ids, so (per-task offsets + local index) is the batch rank.
    srt = (
        tagged.repartitionByRange(nparts, F.col("bucket"), F.col(order_col))
        .sortWithinPartitions(F.col("bucket"), F.col(order_col))
        .withColumn("__peps_mid", F.monotonically_increasing_id())
    )
    srt = scoped_persist(srt)
    pid = F.shiftrightunsigned(F.col("__peps_mid"), 33)
    local = F.col("__peps_mid").bitwiseAND(F.lit(_MID_LOCAL_MASK))
    # Tiny: #range-tasks × #buckets rows, map-side combined. Collected
    # because the SAME aggregate both (a) seeds the broadcast offsets
    # join and (b) advances the persisted counters — one pass, and the
    # driver must see (b) anyway to write the state file.
    # r14 (guide §2.2/§5): the reduce side of this aggregate holds at
    # most nparts × (#buckets + 1) partial rows (a few KB at ANY data
    # scale — the map side already combined per task), but inside a
    # foreachBatch micro-batch AQE does not coalesce, so the exchange
    # inherited the ambient shuffle-partition count: one near-empty
    # reducer task per configured partition, PER MICRO-BATCH (32 extra
    # tasks/batch in the 32-core bench; more on a cluster). One reducer
    # is enough for KBs of partials; scoped set/restore (single-writer
    # micro-batch discipline — the scope is this one collect).
    part_key = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(part_key)
    spark.conf.set(part_key, "1")
    try:
        stats = (
            srt.groupBy(pid.alias("__peps_pid"), "bucket")
            .agg(
                F.count(F.lit(1)).alias("__peps_cnt"),
                F.min(local).alias("__peps_lo"),
            )
            .collect()
        )
    finally:
        spark.conf.set(part_key, prev_parts)
    new_counters = dict(base_counters)
    offset_rows = []
    for row in sorted(
        stats, key=lambda r: ((r["bucket"] is not None, r["bucket"]), r["__peps_pid"])
    ):
        b = row["bucket"]
        seq_base = new_counters.get(b, 0)
        offset_rows.append((int(row["__peps_pid"]), b, seq_base, int(row["__peps_lo"])))
        new_counters[b] = seq_base + int(row["__peps_cnt"])

    if not offset_rows:  # empty batch: counters unchanged, empty frame
        empty = local_frame(
            spark, [], stateful_output_schema(tagged, key_col=key_col, order_col=order_col)
        )
        empty._peps_exact_cache = srt  # type: ignore[attr-defined]
        return empty, new_counters

    # (partition_lo, size) ride the offsets rows the data must join
    # anyway; ``__peps_known`` tells an unknown bucket (partition NULL)
    # from a known starved one (size 0 → partition -1). The frame is
    # nparts × (#buckets + 1) tiny rows consumed ONLY as a broadcast
    # build, so it is a local relation: no Python-worker job per
    # micro-batch to ship it.
    offsets = local_frame(
        spark,
        [
            (
                pid_v,
                b,
                base,
                lo,
                b in layout,
                layout.get(b, (None, None))[0],
                layout.get(b, (None, None))[1],
            )
            for pid_v, b, base, lo in offset_rows
        ],
        "__peps_pid long, bucket string, __peps_base long, __peps_lo long, "
        "__peps_known boolean, __peps_l_lo int, __peps_l_size int",
    )
    # eqNullSafe: the NULL-bucket group must match its offsets row too.
    srtp = srt.withColumn("__peps_pid", pid)
    joined = (
        srtp.join(
            F.broadcast(offsets),
            srtp["bucket"].eqNullSafe(offsets["bucket"])
            & (srtp["__peps_pid"] == offsets["__peps_pid"]),
            "left",
        )
        .drop(offsets["bucket"])
        .drop(offsets["__peps_pid"])
    )
    seq = (F.col("__peps_base") + local.cast("long") - F.col("__peps_lo")).cast("long")

    routed = joined.withColumn("seq", seq)
    size = F.col("__peps_l_size")
    partition = (
        F.when(~F.col("__peps_known"), F.lit(None).cast("int"))
        .when(size == 0, F.lit(-1))
        # seq >= 0 always (counters start at 0 and only grow), so %
        # equals pmod — same arithmetic as Bucket.nextPartition.
        .otherwise((F.col("__peps_l_lo") + F.col("seq") % size).cast("int"))
    )
    out = routed.select(
        F.col(order_col),
        F.col(key_col),
        F.col("bucket"),
        partition.alias("partition"),
        F.col("seq"),
    )
    out._peps_exact_cache = srt  # type: ignore[attr-defined]
    return out, new_counters


def _counters_path(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, f"counters-after-{batch_id:020d}.json")


def load_counters(state_dir: str, after_batch_id: int) -> dict[str | None, int]:
    """Counters as of the commit of ``after_batch_id`` (-1 → fresh)."""
    if after_batch_id < 0:
        return {}
    path = _counters_path(state_dir, after_batch_id)
    if not os.path.exists(path):
        raise RuntimeError(
            f"lifetime counter state for batch {after_batch_id} missing at "
            f"{path}: the counter directory must live as long as the "
            "checkpoint (both are needed to resume the sequence)"
        )
    with open(path) as f:
        doc = json.load(f)
    return {b: int(c) for b, c in doc["counters"]}


def _save_counters(
    state_dir: str, batch_id: int, counters: dict[str | None, int], *, retain: int = 3
) -> None:
    os.makedirs(state_dir, exist_ok=True)
    path = _counters_path(state_dir, batch_id)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "version": 1,
                "batch_id": batch_id,
                # JSON objects can't key on null; a pair list can.
                "counters": sorted(
                    counters.items(), key=lambda kv: (kv[0] is not None, kv[0])
                ),
            },
            f,
        )
    os.replace(tmp, path)  # atomic: a crashed writer never half-writes
    # Streaming replays at most the LAST uncommitted batch, so only
    # counters-after-{B-1} is ever read again; keep a few extra
    # versions for forensics and drop the rest (a long-running stream
    # would otherwise accrete one small file per micro-batch forever).
    stale = batch_id - retain
    if stale >= 0:
        old = _counters_path(state_dir, stale)
        if os.path.exists(old):
            os.remove(old)


def lifetime_foreach_batch(
    config: BucketPriorityConfig,
    num_partitions: int,
    sink: Callable[[DataFrame, int], None],
    *,
    state_dir: str,
    key_col: str = "key",
    order_col: str = "event_id",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` wrapper: bit-exact lifetime round-robin with
    full intra-batch parallelism. Wire it as::

        stream.writeStream.foreachBatch(
            lifetime_foreach_batch(cfg, 12, sink, state_dir=...)
        ).option("checkpointLocation", chk).start()

    ``state_dir`` must live as long as the checkpoint: on restart,
    batch B re-reads ``counters-after-{B-1}`` and deterministically
    reproduces the identical routed batch (rank is defined by
    ``order_col``, blocks by the persisted bases), so a replayed
    micro-batch is byte-identical — idempotent exactly-once.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        base = load_counters(state_dir, batch_id - 1)
        routed, advanced = route_batch_lifetime(
            batch_df,
            config,
            num_partitions,
            base,
            key_col=key_col,
            order_col=order_col,
        )
        try:
            sink(routed, batch_id)
        finally:
            cached = getattr(routed, "_peps_exact_cache", None)
            if cached is not None:
                cached.unpersist()
        _save_counters(state_dir, batch_id, advanced)

    return write
