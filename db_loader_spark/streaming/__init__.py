"""Structured Streaming incremental ingest (T1-T5)."""

from db_loader_spark.streaming.commit_log import (
    CommitEvent,
    CommitLogConsumer,
    CommitLogTruncated,
    apply_table_changes,
    read_event_appended,
    read_event_mor_deleted,
    read_event_row_changes,
    read_table_changes,
    row_changes_for_batch,
    start_row_change_feed,
)
from db_loader_spark.streaming.file_ingest import stream_log_tables
from db_loader_spark.streaming.manifest_source import (
    register_manifest_cdc,
    register_manifest_table,
)

__all__ = [
    "CommitEvent",
    "apply_table_changes",
    "CommitLogConsumer",
    "CommitLogTruncated",
    "read_event_appended",
    "read_event_mor_deleted",
    "read_event_row_changes",
    "read_table_changes",
    "row_changes_for_batch",
    "start_row_change_feed",
    "register_manifest_cdc",
    "register_manifest_table",
    "stream_log_tables",
]
