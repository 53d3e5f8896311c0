"""The shared two-batch replay helper (``streaming/staging.py``): every
streaming twin drains through it, so its cleanup contract — query
stopped and temp root removed, on success AND on a handler error — is
pinned here once."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.streaming.staging import (
    stage_two_batch_stream,
    two_batch_replay,
)


def _batches(spark):
    return [
        spark.range(10 * g, 10 * g + 3).select(F.col("id").alias("k"))
        for g in range(2)
    ]


def test_replay_drains_each_batch_and_removes_root(spark):
    seen: dict[int, set[int]] = {}

    def capture(batch_df, batch_id):
        seen[batch_id] = {r["k"] for r in batch_df.collect()}

    with two_batch_replay() as replay:
        root = replay.root
        assert os.path.isdir(root)
        replay.run(_batches(spark), capture)
        # the staged source stays readable until exit (the heavy-hitters
        # readout re-reads it)
        assert spark.read.parquet(replay.src_dir).count() == 6
    assert seen == {0: {0, 1, 2}, 1: {10, 11, 12}}
    assert not replay.query.isActive
    assert not os.path.exists(root)


def test_handler_error_propagates_and_cleans_up(spark):
    def fail_on_second(batch_df, batch_id):
        if batch_id == 1:
            raise ValueError("handler failed on batch 1")

    with pytest.raises(Exception, match="handler failed on batch 1"):
        with two_batch_replay() as replay:
            root = replay.root
            replay.run(_batches(spark), fail_on_second)
    assert spark.streams.active == []
    assert not os.path.exists(root)


def test_concurrent_staging_writes_keep_the_callers_job_group(spark, run_in_job_group):
    with two_batch_replay() as replay:
        jobs, ungrouped = run_in_job_group(
            "peps-staging-writes",
            lambda: stage_two_batch_stream(replay.root, _batches(spark)),
        )
    assert len(jobs) >= 2 and ungrouped == [], (jobs, ungrouped)
