"""Round-13 fixes for the r12 ADVICE items: the staged-replay setup
floor is bracketed (measured before AND after the headline loop — the
once-after protocol measured a systematically warmer regime than the
one the stream twins ran in); STREAM_TWINS is an explicit list with an
import-time guard (prefix inference would silently subtract the floor
from a future non-twin stream_* headline); gen_bench_reference warns
when only a subset of artifacts carries a floor and treats a measured
0.0 floor as a value, not as absent."""

from __future__ import annotations

import inspect
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TestStreamTwinsExplicit:
    def test_every_stream_headline_is_declared_a_twin_or_excluded(self):
        # ADVICE r12: membership must be a conscious decision per name.
        # The import-time guard in bench.py raises if a stream_*
        # headline is neither; this pins the invariant from the test
        # suite too (and that the explicit set stays within HEADLINE).
        import bench

        undeclared = [
            n
            for n in bench.HEADLINE
            if n.startswith("stream_") and n not in bench.STREAM_TWINS
        ]
        assert undeclared == []
        assert bench.STREAM_TWINS <= set(bench.HEADLINE)

    def test_every_twin_routes_through_a_staged_replay_drain(self):
        # The floor models temp-parquet staging + checkpoint + drain
        # machinery; subtracting it is only meaningful for queries that
        # actually pay it. Each twin's queries() callable must visibly
        # route through one of the staged-replay drivers.
        import bench
        import __spark_entry__ as entry

        drain_markers = (
            "stage_two_batch_stream",
            "two_batch_replay",
            "_replay_events_stream",
            "_drain_to_memory_sink",
            "_two_batch_rollup_replay",
            "rollup_foreach_batch",
            "lifetime_foreach_batch",
            "scd2_foreach_batch",
            "locf_foreach_batch",
        )
        qs = entry.queries()
        for name in sorted(bench.STREAM_TWINS):
            src = inspect.getsource(qs[name])
            assert any(m in src for m in drain_markers), (
                f"{name} is listed as a staged-replay twin but its "
                "query source references no staged-replay driver"
            )

    def test_floor_is_bracketed_around_the_headline_loop(self):
        # ADVICE r12: the floor must be sampled on BOTH sides of the
        # headline loop. Structural pin: bench.main measures floor runs
        # before the headline loop and extends them after it.
        import bench

        src = inspect.getsource(bench.main)
        pre = src.index("floor_runs = measure_floor_runs()")
        loop = src.index("for name in HEADLINE:")
        post = src.index("floor_runs += measure_floor_runs()")
        assert pre < loop < post


class TestBenchReferenceFloorSubset:
    def _artifact(self, floor=None, **queries):
        a = {"sf": 0.1, "queries": queries or {"q": 1.0}}
        if floor is not None:
            a["setup_floor_sec"] = floor
        return a

    def test_warns_when_floor_covers_a_subset(self, capsys):
        from tools.gen_bench_reference import build_reference

        ref = build_reference(
            "t",
            [
                self._artifact(floor=2.0),
                self._artifact(),  # pre-floor-era artifact
                self._artifact(floor=3.0),
            ],
        )
        err = capsys.readouterr().err
        assert "only 2 of 3 artifacts carry setup_floor_sec" in err
        assert ref["setup_floor_sec"] == 2.5

    def test_zero_floor_counts_as_a_measurement(self, capsys):
        # ADVICE r12: truthiness dropped a measured 0.0 floor from the
        # median (and from the subset warning's accounting).
        from tools.gen_bench_reference import build_reference

        ref = build_reference(
            "t",
            [
                self._artifact(floor=0.0),
                self._artifact(floor=0.0),
                self._artifact(floor=3.0),
            ],
        )
        err = capsys.readouterr().err
        assert "carry setup_floor_sec" not in err  # all 3 present
        assert ref["setup_floor_sec"] == 0.0

    def test_no_floor_anywhere_omits_the_key_silently(self, capsys):
        from tools.gen_bench_reference import build_reference

        ref = build_reference("t", [self._artifact(), self._artifact()])
        assert "setup_floor_sec" not in ref
        assert "carry setup_floor_sec" not in capsys.readouterr().err


class TestParallelStaging:
    def test_k_file_groups_align_with_micro_batches(self, spark):
        # files_per_batch=K staging (r13: the serial coalesce(1) write
        # was 8.7 s of the 100x lifetime-probe wall) relies on the file
        # source taking the K oldest unseen files per trigger. Three
        # 4-file groups must replay as exactly three micro-batches,
        # each holding one complete group.
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from prioritizing_event_processing_with_apache_kafka_spark.streaming.staging import (
            stage_two_batch_stream,
        )

        root = tempfile.mkdtemp(prefix="peps-kstage-")
        chk = tempfile.mkdtemp(prefix="peps-kstage-chk-")
        seen: dict[int, set[int]] = {}
        try:
            batches = [
                spark.range(100 * g, 100 * g + 40).select(
                    F.col("id").cast("long").alias("id")
                )
                for g in range(3)
            ]
            src_dir, schema = stage_two_batch_stream(
                root, batches, files_per_batch=4
            )
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 4)
                .parquet(src_dir)
            )

            def capture(batch_df, batch_id):
                seen[batch_id] = {r["id"] for r in batch_df.collect()}

            q = (
                stream.writeStream.foreachBatch(capture)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            assert seen == {
                g: set(range(100 * g, 100 * g + 40)) for g in range(3)
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)
            shutil.rmtree(chk, ignore_errors=True)

    def test_short_batch_refuses_k_staging(self, spark):
        import shutil
        import tempfile

        import pytest as _pytest

        from prioritizing_event_processing_with_apache_kafka_spark.streaming.staging import (
            stage_two_batch_stream,
        )

        root = tempfile.mkdtemp(prefix="peps-kstage-short-")
        try:
            with _pytest.raises(ValueError, match="use files_per_batch=1"):
                stage_two_batch_stream(
                    root, [spark.range(2)], files_per_batch=16
                )
        finally:
            shutil.rmtree(root, ignore_errors=True)
