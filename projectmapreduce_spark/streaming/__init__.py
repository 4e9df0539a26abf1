"""Structured Streaming surface (SURVEY.md §2.9 streaming forms +
custom stateful operators).  Batch equivalents of every operator here
live in projectmapreduce_spark/queries/events.py and are the
oracle-checked forms; these wrappers are the live-topic path."""

from projectmapreduce_spark.streaming.core import (
    dedup_within_watermark,
    append_watermark_flush_file,
    materialize_paced_replay,
    run_available_now,
    session_counts,
    sink_stream_foreach_batch,
    sink_stream_merge_upsert,
    sliding_counts,
    state_partitions,
    stream_static_join,
    stream_stream_interval_join,
    tumbling_counts,
    with_watermark,
)
from projectmapreduce_spark.streaming.stateful import running_user_totals

__all__ = [
    "dedup_within_watermark",
    "run_available_now",
    "running_user_totals",
    "session_counts",
    "sink_stream_foreach_batch",
    "sink_stream_merge_upsert",
    "sliding_counts",
    "state_partitions",
    "stream_static_join",
    "append_watermark_flush_file",
    "stream_stream_interval_join",
    "tumbling_counts",
    "with_watermark",
]
