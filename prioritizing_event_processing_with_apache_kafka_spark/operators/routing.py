"""Producer-side routing: key → bucket → topic partition.

The Spark-first re-expression of the reference's producer
``Partitioner`` (``BucketPriorityPartitioner.java``):

- **P1 key→bucket**: native split/trim expression (``functions/keys.py``).
- **P2 topic guard**: records of other topics keep a NULL partition so
  the downstream Kafka sink's own partitioner decides — the analog of
  returning ``UNKNOWN_PARTITION`` (``BucketPriorityPartitioner.java:64-68``).
- **P3 membership**: broadcast join against the tiny layout table;
  unknown buckets get NULL partition (fall-through,
  ``BucketPriorityPartitioner.java:74``).
- **P6 layout**: the pure-Python kernel's output becomes a
  ≤-few-hundred-bytes local relation (``sources/local.py``: no job and
  no Python worker to build it) that Catalyst broadcast-joins — no
  shuffle of the fact side, ever.
- **P7 round-robin**: ``partition = partition_lo + pmod(seq, bucket_size)``
  where ``seq`` depends on the routing *mode* (below). Starved buckets
  (zero partitions after truncation) route to partition ``-1``, exactly
  like ``Bucket.nextPartition()`` (``Bucket.java:22-29``); the record is
  dropped at the sink, observable via ``route_status = 'starved'``.
- **P9 discard**: ``on_unroutable='discard'`` filters NULL-partition
  rows (the documented ``DiscardPartitioner`` behavior,
  ``DiscardPartitioner.java:15-18``).

Routing modes (scale matters — the round-robin counter is the one
piece of shared state in the reference, and a literal port would
serialize the world):

- ``mode="exact"`` — global per-bucket rank ordered by ``order_col``.
  Bit-reproducible round-robin (what the reference's unit tests
  assert: exactly N/size records per partition). Computed *distributed*:
  one range shuffle co-sorts ``(bucket, order)`` across all tasks, then
  the global rank is reconstructed as ``per-(task, bucket) offset +
  local index`` from a tiny (#tasks × #buckets)-row statistics table
  that is broadcast back — full cluster parallelism, never one task
  per bucket (a naive ``Window.partitionBy(bucket)`` would collapse a
  100 TB batch into #buckets tasks).
- ``mode="spread"`` (default) — per-Spark-partition round-robin using
  ``monotonically_increasing_id``: every task keeps its own dense
  counter, so records are spread uniformly over the bucket's partition
  range with **zero shuffle** and no skew, like N independent producers
  each running the reference's partitioner. Distribution-uniform, not
  globally sequential.
- ``mode="hash"`` — stateless ``pmod(xxhash64(key), size)``: sticky
  per-key placement (same key → same partition), zero shuffle. This is
  Kafka's own default keyed behavior scoped inside the bucket's range.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
    scoped_persist,
)
from pyspark.sql import types as T

from prioritizing_event_processing_with_apache_kafka_spark.functions.keys import extract_bucket
from prioritizing_event_processing_with_apache_kafka_spark.plans.config import BucketPriorityConfig
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout
from prioritizing_event_processing_with_apache_kafka_spark.sources.local import local_frame

__all__ = [
    "layout_table",
    "route",
    "routed_distribution",
    "rendezvous_route",
    "LAYOUT_SCHEMA",
]

LAYOUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.StringType(), False),
        T.StructField("allocation", T.IntegerType(), False),
        T.StructField("priority_rank", T.IntegerType(), False),
        T.StructField("partition_lo", T.IntegerType(), True),
        T.StructField("partition_hi", T.IntegerType(), True),
        T.StructField("bucket_size", T.IntegerType(), False),
    ]
)


def layout_table(
    spark: SparkSession, config: BucketPriorityConfig, num_partitions: int
) -> DataFrame:
    """The bucket layout as a tiny broadcastable DataFrame.

    One row per configured bucket (starved buckets included, with NULL
    ``partition_lo``/``partition_hi`` and ``bucket_size`` 0) — the
    relational image of the reference's ``LinkedHashMap<String,Bucket>``.
    """
    ranges = compute_layout(
        num_partitions, config.buckets_with_allocation(), topic=config.topic
    )
    rows = [
        (r.bucket, r.allocation, r.priority_rank, r.partition_lo, r.partition_hi, r.size)
        for r in ranges
    ]
    return local_frame(spark, rows, LAYOUT_SCHEMA)


# monotonically_increasing_id() = (task id << 33) | row-index-in-task.
_MID_LOCAL_MASK = (1 << 33) - 1


def _exact_global_sequence(tagged: DataFrame, order_col: Column | str) -> DataFrame:
    """Attach ``__peps_seq`` = 0-based global rank of each row within its
    bucket, ordered by ``order_col`` — without serializing a bucket into
    one task.

    Distributed zip-with-index, DataFrame-native:

    1. ``repartitionByRange(bucket, order)`` + local sort: after the one
       range shuffle, rows of a bucket are globally ordered *across*
       task ids (task *i*'s rows all precede task *i+1*'s).
    2. ``monotonically_increasing_id`` gives ``(task_id, local_index)``.
       The frame is persisted: the id is tied to the physical layout, so
       the statistics pass and the final join must read the same
       materialization.
    3. A tiny aggregate (#tasks × #buckets rows, map-side combined)
       yields per-(task, bucket) row counts and min local index; a
       cumulative sum over task id turns counts into bucket-rank
       offsets. Broadcast back, ``rank = offset + local - min_local``.

    The result is invariant to where the range partitioner happens to
    place split points, so it is bit-identical to
    ``row_number() over (partition by bucket order by order_col) - 1``
    whenever the ordering key is unique within the bucket.

    Cache lifetime: the persisted midframe is keyed by logical-plan
    equality, so repeated batch queries over the same input+config
    share ONE cache entry (they rebuild the identical plan), and
    distinct configs add one entry each — bounded by the number of
    distinct routing configs in the session, evicted LRU. Callers with
    a bounded batch lifetime (foreachBatch) release it eagerly via the
    ``_peps_exact_cache`` handle on the returned frame.
    """
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    srt = (
        tagged.repartitionByRange(F.col("__peps_bucket"), order)
        .sortWithinPartitions(F.col("__peps_bucket"), order)
        .withColumn("__peps_mid", F.monotonically_increasing_id())
    )
    srt = scoped_persist(srt)
    pid = F.shiftrightunsigned(F.col("__peps_mid"), 33)
    local = F.col("__peps_mid").bitwiseAND(F.lit(_MID_LOCAL_MASK))
    stats = (
        srt.where(F.col("__peps_bucket").isNotNull())
        .groupBy(pid.alias("__peps_pid"), F.col("__peps_bucket"))
        .agg(
            F.count(F.lit(1)).alias("__peps_cnt"),
            F.min(local).alias("__peps_lo"),
        )
    )
    cum = (
        Window.partitionBy("__peps_bucket")
        .orderBy("__peps_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = stats.select(
        "__peps_pid",
        "__peps_bucket",
        F.coalesce(F.sum("__peps_cnt").over(cum), F.lit(0)).alias("__peps_off"),
        "__peps_lo",
    )
    joined = srt.withColumn("__peps_pid", pid).join(
        F.broadcast(offsets), ["__peps_pid", "__peps_bucket"], "left"
    )
    out = joined.withColumn(
        "__peps_seq",
        (F.col("__peps_off") + local.cast("long") - F.col("__peps_lo")).cast("long"),
    ).drop("__peps_mid", "__peps_pid", "__peps_off", "__peps_lo")
    # Hand the persisted midframe to the caller so bounded-lifetime uses
    # (per-micro-batch routing) can unpersist eagerly.
    out._peps_exact_cache = srt  # type: ignore[attr-defined]
    return out


def _sequence_column(mode: str, order_col: Column | str | None) -> Column | None:
    if mode == "exact":
        if order_col is None:
            raise ValueError("mode='exact' requires order_col (a deterministic ordering)")
        return F.col("__peps_seq").cast("long")
    if mode == "spread":
        if order_col is not None:
            # Round-robin driven by an existing monotonic sequence (the
            # Kafka source's per-partition `offset`, an event id, ...):
            # streaming-legal, zero shuffle, uniform when the sequence
            # is dense per bucket.
            order = F.col(order_col) if isinstance(order_col, str) else order_col
            return order.cast("long")
        # Dense per-task counter: low 33 bits of monotonically_increasing_id
        # are the row index within the Spark partition, high bits the task
        # id — pmod by bucket_size yields an independent round-robin per
        # task, uniformly covering the bucket range without any shuffle.
        # (Batch only: streaming plans must pass order_col instead.)
        return F.monotonically_increasing_id()
    if mode == "hash":
        return None  # sentinel: computed from the key downstream
    raise ValueError(f"unknown routing mode: {mode!r} (expected exact|spread|hash)")


def route(
    df: DataFrame,
    config: BucketPriorityConfig,
    num_partitions: int,
    *,
    key_col: str = "key",
    topic_col: str | None = None,
    order_col: Column | str | None = None,
    mode: str = "spread",
    seq_col: str | None = None,
) -> DataFrame:
    """Attach ``bucket``, ``partition`` and ``route_status`` columns.

    ``seq_col`` (exact mode only): also expose the 0-based rank of each
    record within its bucket under this name. Downstream per-partition
    positions are then pure arithmetic — ``seq div bucket_size`` is the
    0-based position inside the chosen partition, because partitions
    fill round-robin — so consumers of intra-partition order (the drain
    schedule) avoid re-deriving it with a window keyed on the partition
    id (≤ #topic-partitions keys: a guaranteed reducer bottleneck at
    scale).

    ``partition`` semantics (sink contract — Spark's Kafka sink honors a
    ``partition`` column on write):

    - ``routed``: the chosen partition id inside the bucket's range;
    - ``starved``: bucket exists but holds no partitions → ``-1``
      (dropped at the sink; reference parity with
      ``Bucket.nextPartition`` returning -1);
    - ``bypassed``: record belongs to *another topic* → NULL partition,
      the sink's default partitioner decides (the reference's
      ``UNKNOWN_PARTITION`` early-return for foreign topics,
      ``BucketPriorityPartitioner.java:64-68``). Never discarded —
      foreign topics are not this config's business;
    - ``unroutable``: record *of the configured topic* whose key is
      NULL/unparseable, names an unknown bucket, or (spread mode)
      carries a NULL sequence value → NULL partition, or dropped when
      ``config.on_unroutable == 'discard'``.

    The output columns ``partition``/``route_status``/``bucket``
    replace any same-named input columns (the sink contract); all other
    input columns pass through untouched.

    The layout join is an explicit ``broadcast`` of a ≤#buckets-row
    table: at any scale the fact side is never shuffled for routing.
    """
    spark = df.sparkSession
    layout = layout_table(spark, config, num_partitions)

    # P1 type guard: the reference only parses `key instanceof String`
    # (BucketPriorityPartitioner.java:69) — any other key type falls
    # through as unroutable. String and binary (Kafka's raw key bytes,
    # UTF-8-decoded by the cast) columns are parsed; numeric/other
    # key columns yield NULL bucket rather than being stringified.
    key_dtype = df.schema[key_col].dataType
    if isinstance(key_dtype, (T.StringType, T.BinaryType)):
        bucket = extract_bucket(F.col(key_col), config.delimiter)
    else:
        bucket = F.lit(None).cast("string")
    # Null-safe: a NULL topic value is not the configured topic, so it
    # is bypassed like any other foreign-topic record (plain != would
    # evaluate NULL and silently route it).
    is_foreign_topic = (
        ~F.col(topic_col).eqNullSafe(F.lit(config.topic))
        if topic_col is not None
        else F.lit(False)
    )
    if topic_col is not None:
        # P2: bucket logic only applies to the configured topic.
        bucket = F.when(~is_foreign_topic, bucket)
    routed = df.withColumn("__peps_bucket", bucket)
    exact_cache = None
    if mode == "exact":
        if order_col is None:
            raise ValueError("mode='exact' requires order_col (a deterministic ordering)")
        routed = _exact_global_sequence(routed, order_col)
        exact_cache = routed._peps_exact_cache  # type: ignore[attr-defined]

    # Prefix every layout column so the join can never collide with (or
    # later silently drop) same-named columns on the user's DataFrame.
    prefixed = layout.select(
        *(F.col(c).alias(f"__peps_layout_{c}") for c in layout.columns)
    )
    routed = routed.join(
        F.broadcast(prefixed),
        routed["__peps_bucket"] == F.col("__peps_layout_bucket"),
        "left",
    )

    seq = _sequence_column(mode, order_col)
    if seq is None:  # hash mode
        seq = F.xxhash64(F.col(key_col).cast("string"))
    size = F.col("__peps_layout_bucket_size")
    partition = (
        F.when(F.col("__peps_layout_bucket").isNull(), F.lit(None).cast("int"))
        .when(size == 0, F.lit(-1))
        .otherwise(
            (F.col("__peps_layout_partition_lo") + F.pmod(seq, size)).cast("int")
        )
    )
    status = (
        F.when(is_foreign_topic, F.lit("bypassed"))
        .when(F.col("__peps_layout_bucket").isNull(), F.lit("unroutable"))
        .when(size == 0, F.lit("starved"))
        # e.g. spread mode with a NULL sequence value: bucket is fine
        # but no partition could be computed — audit as unroutable, do
        # NOT report it routed outside its range.
        .when(partition.isNull(), F.lit("unroutable"))
        .otherwise(F.lit("routed"))
    )

    if seq_col is not None:
        if mode != "exact":
            raise ValueError("seq_col requires mode='exact' (no rank elsewhere)")
        routed = routed.withColumn(seq_col, F.col("__peps_seq").cast("long"))
    out = (
        routed.withColumn("partition", partition)
        .withColumn("route_status", status)
        .withColumn("bucket", F.col("__peps_bucket"))
        .drop("__peps_bucket", "__peps_seq", *prefixed.columns)
    )
    if config.on_unroutable == "discard":
        out = out.filter(F.col("route_status") != "unroutable")
    if exact_cache is not None:
        # Expose the midframe persisted by _exact_global_sequence so
        # bounded-lifetime callers (per-micro-batch routing) can release
        # it eagerly instead of waiting for LRU eviction.
        out._peps_exact_cache = exact_cache  # type: ignore[attr-defined]
    return out


def routed_distribution(routed: DataFrame) -> DataFrame:
    """Records per (bucket, partition) — the invariant the reference's
    ``MockProducer`` tests assert (e.g. exactly 4 per B1 partition for
    32 records over 8 partitions, ``BucketPriorityPartitionerTest.java:344-419``)."""
    return (
        routed.groupBy("bucket", "partition")
        .agg(F.count(F.lit(1)).alias("record_count"))
        .orderBy("bucket", "partition")
    )


def rendezvous_route(
    df: DataFrame,
    *,
    key_col: str = "key",
    num_partitions: int,
    out_col: str = "partition",
) -> DataFrame:
    """Stateless rendezvous (highest-random-weight) routing: each key
    goes to the partition whose ``md5(key ':' partition)`` digest is
    lexicographically largest.

    This is the classic alternative to the reference's range-carved
    layout (``mode="hash"``'s ``pmod`` placement): under HRW, growing
    the partition set from N to N+1 remaps only ~1/(N+1) of the keys
    (only keys whose new digest wins move), where modulo placement
    reshuffles almost everything — the property that matters when the
    routed stream feeds per-partition state (consumer offsets, keyed
    caches) that a resize should not invalidate wholesale.

    Spark-first shape: the argmax over candidate partitions runs
    ENTIRELY inside one projected expression — ``array_max`` over a
    ``transform`` of the partition list building ``struct(digest,
    pid)`` (struct ordering compares the digest first; md5 ties are
    not a practical concern, and the pid field makes even that case
    deterministic) — so routing is per-row compute with ZERO shuffle
    and no per-key state, exactly what a 100 TB stateless map stage
    needs. Cost is ``num_partitions`` digests per row; HRW is the
    right tool at partition counts where that constant is small (for
    hundreds of partitions, layer it on a bucket layout first).

    md5 is used because every engine agrees on it byte-for-byte (the
    oracle replays the same digests), not for cryptographic strength.
    """
    if num_partitions < 1:
        raise ValueError(
            f"rendezvous_route: num_partitions must be >= 1, got {num_partitions}"
        )
    picked = F.array_max(
        F.transform(
            F.sequence(F.lit(0), F.lit(num_partitions - 1)),
            lambda p: F.struct(
                F.md5(
                    F.concat_ws(":", F.col(key_col).cast("string"), p.cast("string"))
                ).alias("w"),
                p.alias("p"),
            ),
        )
    )
    return df.withColumn(out_col, picked.getField("p"))
