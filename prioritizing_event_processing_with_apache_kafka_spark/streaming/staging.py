"""Micro-batch staging and replay for the streaming twins.

Shared by every streaming twin (lifetime router, LOCF, SCD2,
transitions, RFM/ABC/heavy-hitters/Lorenz/vocab): a list of batch
frames becomes single-file parquet drops with strictly increasing
mtimes, so a ``maxFilesPerTrigger=1`` / availableNow file stream
replays them as separate micro-batches in a deterministic order.
:func:`two_batch_replay` wraps that staging in the one
stage → readStream → foreachBatch → checkpoint → drain → cleanup
block every twin runs.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

__all__ = [
    "run_inheriting",
    "stage_two_batch_stream",
    "two_batch_replay",
    "TwoBatchReplay",
]


def run_inheriting(
    session: SparkSession, fn: Callable[..., Any], arg_tuples: Iterable[tuple]
) -> list:
    """``[fn(*args) for args in arg_tuples]``, one pool thread per call,
    every thread carrying the caller's local properties (job group,
    FAIR pool) and tags — so the jobs keep the caller's scheduling
    priority and are cancelled with it. Results in input order; the
    first exception propagates.

    One ``inheritable_thread_target(session)`` call per task: each call
    copies the caller's properties once, and a running SQL execution
    mutates its thread's copy, so two threads must not share one."""
    arg_tuples = list(arg_tuples)
    with ThreadPoolExecutor(max_workers=len(arg_tuples)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(session)(fn), *args)
            for args in arg_tuples
        ]
        return [f.result() for f in futures]


def stage_two_batch_stream(
    root: str, batches: list[DataFrame], *, files_per_batch: int = 1
):
    """Stage ``batches`` as parquet drops under ``root/src`` with
    strictly increasing mtimes. Returns ``(src_dir, schema)``.

    ``files_per_batch=1`` (default): one ``coalesce(1)`` file per
    batch, replayed with ``maxFilesPerTrigger=1``. The coalesce write
    is SERIAL — fine at fixture scale, but it becomes the dominant
    harness cost when a grow probe feeds 50M-row batches through a
    twin (measured 8.7 s of the r13 100× lifetime-router probe).

    ``files_per_batch=K``: each batch lands as K parquet files written
    in parallel (``repartition(K)``), mtime-grouped so Spark's file
    source (which orders files by modification time) puts exactly one
    group per trigger with ``maxFilesPerTrigger=K``. Within a group
    the mtimes ascend in file order 1 s apart and groups are separated
    by an hour, so the K oldest unseen files are always exactly one
    batch. Only valid for twins whose per-batch transform is
    insensitive to intra-batch arrival order (the routers sort by
    ``order_col``; the rollup merges are commutative)."""
    src_dir = os.path.join(root, "src")
    os.makedirs(src_dir)

    def _write_one(i: int, b: DataFrame) -> str:
        stage = os.path.join(root, f"stage{i}")
        if files_per_batch == 1:
            b.coalesce(1).write.parquet(stage)
        else:
            b.repartition(files_per_batch).write.parquet(stage)
        return stage

    # The per-batch staging writes are independent jobs on disjoint
    # output dirs — submit them concurrently (guide §2.6: actions are
    # only sequential because driver code calls them sequentially), so
    # batch 2's scan back-fills the cores batch 1's single write task
    # leaves idle. Every batch's FILE CONTENT is byte-identical to the
    # serial write (same per-batch plan, same coalesce/repartition);
    # only wall-clock overlaps, and the writes keep the caller's job
    # group and FAIR pool. The mtime stamping below stays serial
    # driver-side work.
    if len(batches) > 1:
        stages = run_inheriting(
            batches[0].sparkSession, _write_one, enumerate(batches)
        )
    else:
        stages = [_write_one(i, b) for i, b in enumerate(batches)]

    schema = None
    for i, (stage, b) in enumerate(zip(stages, batches)):
        parts = sorted(p for p in os.listdir(stage) if p.endswith(".parquet"))
        for j, part in enumerate(parts):
            dst = os.path.join(src_dir, f"batch-{i}-{j:04d}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            os.utime(dst, (1_700_000_000 + i * 3600 + j,) * 2)
        schema = b.schema
        if files_per_batch > 1 and len(parts) != files_per_batch:
            # A short batch (fewer rows than partitions) can produce
            # fewer files; maxFilesPerTrigger=K would then misalign
            # the batch boundaries. Refuse rather than silently merge.
            raise ValueError(
                f"batch {i} wrote {len(parts)} files, expected "
                f"{files_per_batch}; use files_per_batch=1 for tiny batches"
            )
    return src_dir, schema


class TwoBatchReplay:
    """A temp ``root`` for one staged replay. Callers put their own
    state/output dirs under ``root`` (it is removed on exit), then call
    :meth:`run` once; ``src_dir`` is the staged source afterwards."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.src_dir: str | None = None
        self.query: StreamingQuery | None = None

    def run(
        self,
        batches: list[DataFrame],
        handler: Callable[[DataFrame, int], None],
        *,
        files_per_batch: int = 1,
    ) -> None:
        """Stage ``batches`` (:func:`stage_two_batch_stream`) and drain
        them through ``foreachBatch(handler)`` with ``availableNow`` and
        a checkpoint under ``root``, one micro-batch per staged batch.
        Returns once the stream has finished; a handler error is raised
        here."""
        self.src_dir, schema = stage_two_batch_stream(
            self.root, batches, files_per_batch=files_per_batch
        )
        self.query = (
            batches[0]
            .sparkSession.readStream.schema(schema)
            .option("maxFilesPerTrigger", files_per_batch)
            .parquet(self.src_dir)
            .writeStream.foreachBatch(handler)
            .option("checkpointLocation", os.path.join(self.root, "chk"))
            .trigger(availableNow=True)
            .start()
        )
        self.query.awaitTermination()


@contextmanager
def two_batch_replay() -> Iterator[TwoBatchReplay]:
    """Context manager owning one replay's temp root. On exit, normal
    or by error, the query is stopped and the root removed — so a
    result read from under ``root`` must be materialized (e.g.
    ``localCheckpoint(eager=True)``) inside the ``with`` block."""
    replay = TwoBatchReplay(tempfile.mkdtemp(prefix="peps-replay-"))
    try:
        yield replay
    finally:
        if replay.query is not None:
            replay.query.stop()
        shutil.rmtree(replay.root, ignore_errors=True)
