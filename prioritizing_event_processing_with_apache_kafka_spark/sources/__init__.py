"""Sources & sinks: fixture tables, interchange formats, driver-row local
relations, Kafka option builders."""

from prioritizing_event_processing_with_apache_kafka_spark.sources.compaction import (
    compact_parquet,
    directory_bytes,
)
from prioritizing_event_processing_with_apache_kafka_spark.sources.formats import (
    read_csv,
    read_jsonl,
    read_orc,
    write_csv,
    write_jsonl,
    write_orc,
)
from prioritizing_event_processing_with_apache_kafka_spark.sources.local import local_frame
from prioritizing_event_processing_with_apache_kafka_spark.sources.zorder import (
    write_zordered,
    zorder_key,
)
from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
    EVENT_TYPE_BUCKET,
    load_table,
    load_tables,
    with_routing_key,
)

__all__ = [
    "EVENT_TYPE_BUCKET",
    "load_table",
    "load_tables",
    "with_routing_key",
    "read_csv",
    "read_jsonl",
    "read_orc",
    "write_csv",
    "write_jsonl",
    "write_orc",
    "write_zordered",
    "zorder_key",
    "compact_parquet",
    "directory_bytes",
    "local_frame",
]
