"""Streaming changelog ingestion and materialization.

The reference delivers an exactly-once changelog stream into Flink; any SQL
over it stays continuously correct under inserts/updates/deletes
(flink-connector-mysql-cdc/.../table/MySqlTableSource.java:149 declares
ChangelogMode.all; the flagship ITCase MySqlConnectorITCase.java:215-275
materializes a GROUP BY over live DML). Spark has no retract-stream trait,
so the engine's contract is:

  stream of envelope rows  ->  per-key latest-state store  ->  aggregates
  over the store are retract-correct by construction
  (normalize-then-aggregate, SURVEY.md §4).

``materialize_latest_state`` runs ChangelogNormalize as a ``max_by``
streaming aggregation (``stateful.streaming_changelog_normalize``):
row-level incremental state in the JVM state store, O(changed keys) per
epoch, whose update-mode emissions are appended to an update log.
``read_latest_state`` resolves the log by the same offset order the
aggregate kept (``operators.cdc.offset_order``), so the read-back is the
state store's answer; ``compact_tombstones`` bounds the log.

The streaming source is file-based Debezium-envelope JSON — the exact wire
shape of the reference's JsonDebeziumDeserializationSchema
(flink-connector-debezium/.../JsonDebeziumDeserializationSchema.java) — so
any real Debezium topic/file dump plugs in unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cdc_connectors_spark.operators.cdc import changelog_normalize
from flink_cdc_connectors_spark.sources.envelope import parse_debezium_json
from flink_cdc_connectors_spark.streaming.stateful import (
    streaming_changelog_normalize,
)


def read_changelog_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream Debezium-envelope JSON files -> typed changelog rows.

    Output columns: (op, user_id, value, props, ts, event_id,
    database_name, table_name, op_ts) — §1.1's envelope flattened, same as
    the batch ``parse_debezium_json``.

    Scale: the file source lists incrementally and checkpoints consumed
    files; ``maxFilesPerTrigger`` bounds micro-batch size the way the
    reference bounds fetch batches (MySqlSourceOptions scan.fetch.size).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(path)
    return parse_debezium_json(raw, value_col="value")


def stream_changelog_from_events(
    spark: SparkSession, events_json_dir: str, **kwargs
) -> DataFrame:
    """Alias with the fixture-centric name used by tests."""
    return read_changelog_stream(spark, events_json_dir, **kwargs)


def _append_state_updates(batch_df: DataFrame, state_dir: str) -> None:
    """Append one micro-batch of per-key state UPDATES to the store.

    The stateful path's store is an append-only update LOG (LSM-style):
    each epoch writes only the keys whose state advanced — O(batch), not
    O(state) — and the read side resolves latest-per-key. The per-key
    dedup already happened in the state store (the max_by aggregate), so
    batch sizes here are bounded by distinct keys per trigger."""
    out = batch_df.withColumn("ts", F.timestamp_millis(F.col("ts_ms"))).drop("ts_ms")
    out.write.mode("append").parquet(state_dir)


def drain(writer):
    """Start ``writer`` and run it until every input visible now is
    processed, then stop it; returns the stopped query (its
    ``awaitTermination`` returns at once) and raises the query's error.

    This is the bounded drain ``Trigger.AvailableNow`` promises. Spark's
    Python data sources (``cdc_binlog``) have no admission-control hook,
    so on them availableNow falls back to ONE batch — with
    ``maxOffsetsPerBatch`` the rest of the log would be silently dropped.
    The default trigger plus ``processAllAvailable()`` drains every
    source, file sources included."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if q.exception() is not None:
        raise q.exception()
    return q


def materialize_latest_state(
    changelog_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] = ("user_id",),
    available_now: bool = True,
):
    """Run the stream -> latest-state materialization. Returns the
    StreamingQuery; with ``available_now`` the query drains all
    currently-visible input (see :func:`drain`) and is returned stopped.

    ChangelogNormalize runs as a ``max_by`` streaming aggregation keyed by
    ``key_cols`` — per-key row-level state in Spark's state store (the
    reference's keyed state backend) — and its update-mode emissions are
    appended to an update log in ``state_dir``. Per-epoch write cost is
    O(changed keys); :func:`read_latest_state` resolves the log.
    """
    normalized = streaming_changelog_normalize(changelog_stream, key_cols)
    writer = (
        normalized.writeStream.outputMode("update")
        .foreachBatch(lambda df, epoch: _append_state_updates(df, state_dir))
        .option("checkpointLocation", checkpoint_dir)
    )
    return drain(writer) if available_now else writer.start()


def read_latest_state(
    spark: SparkSession, state_dir: str, key_cols: list[str] = ("user_id",)
) -> DataFrame:
    """Query view over the materialized store: latest row per key, live
    rows only (tombstones filtered) — the upsert-sink read contract.

    The update log holds several updates per key across epochs; the
    resolve is ``changelog_normalize``, whose offset order (with
    ``schema_epoch`` when the log carries it) is the one the aggregate
    ranked by, so the read returns the row the state store kept."""
    return changelog_normalize(spark.read.parquet(state_dir), key_cols)


def compact_tombstones(
    spark: SparkSession,
    state_dir: str,
    safe_offset: int,
    key_cols: list[str] = ("user_id",),
) -> int:
    """Log compaction for the state store: keep only the latest row per
    key, then drop tombstones whose offset is <= ``safe_offset`` — Kafka
    log-compaction's delete-retention.

    A tombstone is only needed while an out-of-order event older than it
    could still arrive; once the source offset has durably passed
    ``safe_offset`` (the stream's committed position), tombstones at or
    below it can never be contradicted and are dead weight. Superseded
    update-log rows (not latest for their key) are always dropped. Returns
    the number of tombstone ROWS removed.

    The compacted rows are appended to the store first; only then are
    exactly the files that were read deleted. A crash in between leaves
    duplicate rows, which the resolve collapses, and a file that a live
    stream appends after the read is left alone."""
    state = spark.read.parquet(state_dir)
    read_files = state.inputFiles()
    n_before = state.filter("op = 'delete'").count()
    kept = changelog_normalize(state, key_cols, drop_deletes=False).filter(
        f"op <> 'delete' OR event_id > {int(safe_offset)}"
    )
    removed = n_before - kept.filter("op = 'delete'").count()
    if removed:
        kept.write.mode("append").parquet(state_dir)
        jvm = spark._jvm  # noqa: SLF001 — Hadoop FileSystem deletes the checksums too
        conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
        for f in read_files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            path.getFileSystem(conf).delete(path, False)
    return removed


def windowed_agg_stream(
    changelog_stream: DataFrame,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time windowed aggregation with a watermark over the change
    stream (the canonical Flink-over-CDC use, README.md:21-25; event time =
    op_ts per MySqlReadableMetadata.java:68).

    Late events beyond the watermark are dropped by the state store —
    Spark's analog of the reference's low/high watermark windows
    (SignalEventDispatcher.java:78-112).
    """
    win = (
        F.window("ts", window_duration, slide)
        if slide
        else F.window("ts", window_duration)
    )
    return (
        changelog_stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "op", "n", "sum_value")
    )
