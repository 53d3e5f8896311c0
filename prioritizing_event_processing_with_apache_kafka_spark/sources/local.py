"""Driver-side rows as a JVM local relation.

``spark.createDataFrame(list, schema)`` ships a Python list through
``sc.parallelize``: the plan scans an ``ExistingRDD`` whose tasks
deserialize the rows in Python workers, so even a 3-row layout table
costs a multi-task Python job every time a plan reads it (~0.3 s on
4 cores). :func:`local_frame` hands the same rows over as one Arrow
table instead; Spark plans it as a ``LocalRelation`` (``LocalTableScan``:
no job of its own, no Python worker, exact size statistics for the
broadcast decision). Every frame the package builds from driver rows
goes through it.
"""

from __future__ import annotations

import datetime
from collections.abc import Iterable, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

__all__ = ["local_frame"]


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence[Any]], schema: T.StructType | str
) -> DataFrame:
    """``rows`` (tuples or ``Row`` objects, matched to ``schema`` by
    position) as a DataFrame with exactly ``schema`` — a StructType or a
    DDL string — planned as a local relation.

    The Arrow table is typed from ``schema``, so an empty row list or an
    all-NULL column keeps its declared type, and a NULL in a
    non-nullable field raises. A datetime in a ``timestamp`` field (top
    level or array element) means the instant ``createDataFrame`` reads:
    a naive one is local system time, an aware one keeps its offset."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows, strict=True)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [
            pa.array([_as_utc(v, f.dataType) for v in c], type=a.type)
            for c, f, a in zip(columns, schema.fields, arrow_schema, strict=True)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def _as_utc(value: Any, dtype: T.DataType) -> Any:
    """Arrow takes a datetime's wall clock as UTC, ignoring both a
    missing zone (the row path reads local time) and a non-UTC offset.
    Hand it the same instant in UTC."""
    if isinstance(dtype, T.TimestampType):
        if isinstance(value, datetime.datetime):
            return value.astimezone(datetime.timezone.utc)
    elif isinstance(dtype, T.ArrayType) and value is not None:
        return [_as_utc(v, dtype.elementType) for v in value]
    return value
