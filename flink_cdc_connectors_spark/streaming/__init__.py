"""Structured Streaming layer: changelog streams, windowed aggregation,
latest-state materialization as ``max_by`` streaming aggregates (the
changelog normalize and the Mongo patch fold), and streaming dedup
(SURVEY.md §7 step 4)."""

from flink_cdc_connectors_spark.streaming.dedup import (
    materialize_stream_dedup_minhash,
    stream_dedup_exact,
    stream_dedup_minhash_bands,
)
from flink_cdc_connectors_spark.streaming.changelog import (
    read_changelog_stream,
    stream_changelog_from_events,
    materialize_latest_state,
    read_latest_state,
    windowed_agg_stream,
)

__all__ = [
    "materialize_stream_dedup_minhash",
    "stream_dedup_exact",
    "stream_dedup_minhash_bands",
    "read_changelog_stream",
    "stream_changelog_from_events",
    "materialize_latest_state",
    "read_latest_state",
    "windowed_agg_stream",
]
