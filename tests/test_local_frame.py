"""Driver-built frames are JVM local relations (``sources/local.py``).

A frame built from a Python list by ``createDataFrame`` scans a Python
RDD: every plan that reads it runs Python-worker tasks just to ship a
few rows. These tests pin the replacement: ``local_frame`` keeps the
exact types and values of the row path, every driver-built frame in the
package goes through it, and ``route()`` therefore plans no Python-RDD
scan and runs no extra job.
"""

from __future__ import annotations

import datetime
import decimal
import os
import pathlib
import re
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

import prioritizing_event_processing_with_apache_kafka_spark as peps
from prioritizing_event_processing_with_apache_kafka_spark import BucketPriorityConfig
from prioritizing_event_processing_with_apache_kafka_spark.operators.drain import (
    consumer_map_table,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
    LAYOUT_SCHEMA,
    layout_table,
    route,
)
from prioritizing_event_processing_with_apache_kafka_spark.sources.local import local_frame

UTC = datetime.timezone.utc
MINUS_3H = datetime.timezone(datetime.timedelta(hours=-3))
ALL_TYPES = (
    "i int, l bigint, b boolean, s string, ts timestamp, d decimal(12,3), "
    "a array<bigint>, ats array<timestamp>"
)
ALL_TYPES_ROWS = [
    (
        1,
        2**40,
        True,
        "Platinum",
        datetime.datetime(2024, 1, 2, 3, 4, 5, 6, tzinfo=UTC),
        decimal.Decimal("12.345"),
        [1, None, 3],
        [datetime.datetime(2024, 1, 2, 3, 4, 5), None],
    ),
    (None, None, None, None, None, None, None, None),
    Row(
        -7,
        0,
        False,
        "",
        datetime.datetime(1970, 1, 1, tzinfo=UTC),
        decimal.Decimal("0"),
        [],
        [],
    ),
    # naive: both paths read it as local system time
    (3, 4, True, "x", datetime.datetime(2024, 6, 7, 8, 9, 10, 11), None, None, None),
    # a non-UTC offset is kept
    (5, 6, False, "y", datetime.datetime(2024, 6, 7, 8, 9, 10, 11, tzinfo=MINUS_3H), None, None, None),
]
CFG = BucketPriorityConfig(
    topic="orders", buckets=["Platinum", "Gold", "Silver"], allocation=[70, 29, 1]
)
PYTHON_RDD_SCAN = re.compile(r"ExistingRDD|applySchemaToPythonRDD")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow_conf(spark, request):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield
    spark.conf.set(key, prev)


def test_local_frame_matches_the_row_path(spark, arrow_conf):
    got = local_frame(spark, ALL_TYPES_ROWS, ALL_TYPES)
    want = spark.createDataFrame(ALL_TYPES_ROWS, ALL_TYPES)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in _plan(got)


def test_local_frame_empty_and_all_null_columns_keep_their_types(spark, arrow_conf):
    schema = T.StructType.fromDDL(ALL_TYPES)
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.collect() == []
    nulls = local_frame(spark, [(None,) * 8] * 2, ALL_TYPES)
    assert nulls.schema == schema
    assert nulls.collect() == [Row(*([None] * 8))] * 2


@pytest.fixture
def local_zone_ist():
    """The Python process's local zone set to UTC+05:30 (a POSIX TZ
    string, no tz database needed), restored afterwards."""
    prev = os.environ.get("TZ")
    os.environ["TZ"] = "IST-5:30"
    time.tzset()
    yield
    if prev is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = prev
    time.tzset()


def test_local_frame_reads_datetimes_as_the_row_path_does(spark, local_zone_ist):
    naive = datetime.datetime(2024, 6, 7, 8, 9, 10, 11)
    rows = [(naive, [naive, naive.replace(tzinfo=MINUS_3H)])]
    got = local_frame(spark, rows, "ts timestamp, ats array<timestamp>")
    want = spark.createDataFrame(rows, "ts timestamp, ats array<timestamp>")
    assert got.collect() == want.collect()
    as_utc = naive - datetime.timedelta(hours=5, minutes=30)
    micros = (as_utc - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)
    assert got.selectExpr("unix_micros(ts)").first()[0] == micros


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(None, 70, 0, 0, 3, 4)], LAYOUT_SCHEMA)


def test_layout_table_schema_is_exact(spark):
    layout = layout_table(spark, CFG, 10)
    assert layout.schema == LAYOUT_SCHEMA  # nullability included
    silver = [r for r in layout.collect() if r["bucket"] == "Silver"]
    assert silver == [Row("Silver", 1, 2, None, None, 0)]  # starved


@pytest.fixture(scope="module")
def parquet_events(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events") / "events")
    keys = ["Platinum", "Gold", "Silver", "Other"]
    spark.createDataFrame(
        [(i, "orders", f"{keys[i % 4]}-{i}") for i in range(400)],
        "record_id long, topic string, key string",
    ).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("mode", ["exact", "spread", "hash"])
def test_route_plans_no_python_rdd_scan(spark, parquet_events, mode):
    routed = route(parquet_events, CFG, 10, mode=mode, order_col="record_id")
    assert not PYTHON_RDD_SCAN.search(_plan(routed)), _plan(routed)


def test_driver_tables_plan_as_local_relations(spark):
    for df in (
        layout_table(spark, CFG, 10),
        consumer_map_table(spark, {"c0": [("orders", 1), ("orders", 0)]}, topic="orders"),
    ):
        plan = _plan(df)
        assert "LocalTableScan" in plan and not PYTHON_RDD_SCAN.search(plan), plan


def test_spread_route_runs_two_jobs(parquet_events, run_in_job_group):
    """A spread ``route()`` over parquet plus a noop write: the
    broadcast of the layout table and the write, nothing else."""
    jobs, ungrouped = run_in_job_group(
        "peps-spread-route-jobs",
        lambda: route(parquet_events, CFG, 10).write.format("noop").mode("overwrite").save(),
    )
    assert len(jobs) == 2 and ungrouped == [], (jobs, ungrouped)


def test_package_builds_no_frame_from_python_rows():
    """Every driver-built frame goes through ``local_frame``; a bare
    ``createDataFrame``/``parallelize`` would bring back the Python-RDD
    scan."""
    root = pathlib.Path(peps.__file__).parent
    local = root / "sources" / "local.py"
    offenders = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path != local
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line or "parallelize(" in line
    ]
    assert offenders == []
