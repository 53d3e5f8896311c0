"""Cross-batch exact round-robin: the reference's counter as streaming state.

The reference's ``Bucket.nextPartition()`` keeps one ``AtomicInteger``
per bucket for the lifetime of the producer process
(``Bucket.java:14,22-29``): record N+1 continues where record N left
off, across batches. The stateless engine modes reproduce the
*distribution* guarantee; this operator reproduces the *sequence*:
``applyInPandasWithState`` keyed by bucket holds the counter in the
state store, so partition assignment continues exactly across
micro-batches (and survives query restarts via checkpointing).

Use when bit-exact continuation matters (audit replay, A/B parity
against a reference deployment); prefer the stateless modes for raw
throughput — state-store I/O costs real latency, and one state key per
bucket serializes each bucket's assignment into a single task per batch
(the same trade-off the reference's shared counter makes).

This is the reference implementation the parallel lifetime router
(``streaming/lifetime.py``, the declared ``stream_route_lifetime``
query) is tested against: ``route_batch_lifetime`` chained over the
same micro-batches must reproduce this operator's sequence per event.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from prioritizing_event_processing_with_apache_kafka_spark.functions.keys import extract_bucket
from prioritizing_event_processing_with_apache_kafka_spark.plans.config import (
    BucketPriorityConfig,
)
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout

__all__ = [
    "route_stream_stateful",
    "stateful_output_schema",
]


def stateful_output_schema(
    stream: DataFrame, *, key_col: str = "key", order_col: str = "event_id"
) -> T.StructType:
    """Output schema for the lifetime routers, derived from the actual
    ``order_col``/``key_col`` types of the input stream (a hardcoded
    long/string pair would mislabel or break e.g. a timestamp order
    column or binary keys at the Arrow conversion)."""
    by_name = {f.name: f.dataType for f in stream.schema.fields}
    missing = [c for c in (order_col, key_col) if c not in by_name]
    if missing:
        raise ValueError(
            f"columns {missing} not found in stream schema "
            f"{[f.name for f in stream.schema.fields]}"
        )
    return T.StructType(
        [
            T.StructField(order_col, by_name[order_col]),
            T.StructField(key_col, by_name[key_col]),
            T.StructField("bucket", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("seq", T.LongType()),
        ]
    )


_STATE_SCHEMA = T.StructType([T.StructField("counter", T.LongType())])


def route_stream_stateful(
    stream: DataFrame,
    config: BucketPriorityConfig,
    num_partitions: int,
    *,
    key_col: str = "key",
    order_col: str = "event_id",
) -> DataFrame:
    """Routed stream with a persistent per-bucket round-robin counter.

    Output: ``(event_id, key, bucket, partition, seq)`` where ``seq`` is
    the bucket's lifetime record index (counter value) — partition =
    ``lo + seq % size`` exactly as ``Bucket.nextPartition`` computes it,
    with ``seq`` continuing across micro-batches through the state
    store. Records of unknown buckets get partition NULL; starved
    buckets -1 (reference fall-through parity).
    """
    layout = {
        r.bucket: (r.partition_lo, r.size)
        for r in compute_layout(
            num_partitions, config.buckets_with_allocation(), topic=config.topic
        )
    }

    def advance(
        key: Any, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (bucket,) = key
        (counter,) = state.get if state.exists else (0,)
        lo_size = layout.get(bucket)
        # The group arrives as an iterator of Arrow chunks (split at
        # spark.sql.execution.arrow.maxRecordsPerBatch) in arbitrary
        # order — sorting per chunk would assign seq out of global
        # order for large micro-batches. Concatenate first, sort once.
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                order_col, kind="mergesort"
            )
            n = len(pdf)
            seq = pd.RangeIndex(counter, counter + n)
            if lo_size is None:
                partition = pd.Series([None] * n, dtype="Int64")
            elif lo_size[1] == 0:
                partition = pd.Series([-1] * n, dtype="Int64")
            else:
                lo, size = lo_size
                partition = pd.Series(seq % size + lo, dtype="Int64")
            yield pd.DataFrame(
                {
                    order_col: pdf[order_col].values,
                    key_col: pdf[key_col].values,
                    "bucket": bucket,
                    "partition": partition.values,
                    "seq": pd.Series(seq, dtype="int64").values,
                }
            )
            counter += n
        state.update((counter,))

    keyed = stream.withColumn(
        "bucket", extract_bucket(F.col(key_col), config.delimiter)
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        advance,
        stateful_output_schema(stream, key_col=key_col, order_col=order_col),
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )

