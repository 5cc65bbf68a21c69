"""Batch/streaming sources and sinks (SURVEY.md §2.B "Scans / sources /
sinks"): schema'd readers, partitioned parquet writer, the idempotent keyed
upsert sink (reference R16/R17), and the JSON event sink (R20).
"""

from .readers import read_csv, read_json, read_parquet, stream_from_dir, stream_rate
from .sinks import (
    emit_ingest_events,
    upsert_partitioned_parquet,
    write_partitioned_parquet,
)

__all__ = [
    "read_parquet",
    "read_csv",
    "read_json",
    "stream_from_dir",
    "stream_rate",
    "write_partitioned_parquet",
    "upsert_partitioned_parquet",
    "emit_ingest_events",
]
