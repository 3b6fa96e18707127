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

Two materialization strategies (``materialize_latest_state``): the DEFAULT
routes through ``stateful.streaming_changelog_normalize`` (a ``max_by``
streaming aggregation — row-level incremental state in the JVM state
store, O(changed keys) per epoch, appended to an update log); the
``rewrite`` fallback is the format-agnostic foreachBatch full-store MERGE
(O(state) per epoch).

The streaming source is file-based Debezium-envelope JSON — the exact wire
shape of the reference's JsonDebeziumDeserializationSchema
(flink-connector-debezium/.../JsonDebeziumDeserializationSchema.java) — so
any real Debezium topic/file dump plugs in unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cdc_connectors_spark.sources.envelope import parse_debezium_json


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


def _merge_latest_state(
    batch_df: DataFrame, state_dir: str, key_cols: list[str]
) -> None:
    """MERGE one micro-batch of changelog rows into the latest-state store.

    The upsert contract of the reference's sinks (insert/update replace by
    PK, delete removes — RecordUtils.upsertBinlog:77-114 applied
    continuously). Without a transactional table format in this container,
    the store is a parquet directory rewritten per epoch:

        new_state = normalize( current_state(as inserts)  UNION  batch )

    With Delta/Iceberg available this becomes ``MERGE INTO`` keyed on the
    PK — same semantics, row-level instead of rewrite. The rewrite is
    correct (idempotent per epoch, resumable from checkpoint) and the
    normalize is one hash shuffle on the key.

    Delete events are kept in the store as TOMBSTONES (op='delete') rather
    than removed: micro-batches need not respect offset order across keys
    (the file source may deliver a stale event after the delete that
    supersedes it), and with tombstones retained the merge is fully
    order-independent — the offset comparison decides the winner no matter
    the arrival order. ``read_latest_state`` filters them out. This is
    exactly Kafka log-compaction semantics; a production store compacts
    tombstones once the source offset passes them.
    """
    spark = batch_df.sparkSession
    batch_cols = batch_df.columns
    if os.path.isdir(state_dir) and any(
        f.endswith(".parquet") for f in os.listdir(state_dir)
    ):
        current = spark.read.parquet(state_dir)
    else:
        current = spark.createDataFrame([], batch_df.schema)
    merged = current.select(*batch_cols).unionByName(batch_df)
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    new_state = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # Rewrite atomically enough for a local store: write tmp, swap.
    tmp = state_dir.rstrip("/") + ".tmp"
    new_state.write.mode("overwrite").parquet(tmp)
    import shutil

    if os.path.isdir(state_dir):
        shutil.rmtree(state_dir)
    os.replace(tmp, state_dir)


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
    strategy: str = "stateful",
):
    """Run the stream -> latest-state materialization. Returns the
    StreamingQuery; with ``available_now`` the query drains all
    currently-visible input (see :func:`drain`) and is returned stopped.

    ``strategy='stateful'`` (default): ChangelogNormalize as a ``max_by``
    streaming aggregation — per-key row-level state in Spark's state store
    (the reference's keyed state backend), update-mode emissions appended
    to an update log. Per-epoch write cost is O(changed keys).

    ``strategy='rewrite'``: the foreachBatch full-store MERGE fallback —
    normalize(store ∪ batch) rewritten per epoch. Correct and
    format-agnostic, but O(state) per epoch; use it to materialize
    directly into a plain one-row-per-key table.
    """
    if strategy == "rewrite":
        writer = (
            changelog_stream.writeStream.outputMode("append")
            .foreachBatch(
                lambda df, epoch: _merge_latest_state(df, state_dir, list(key_cols))
            )
            .option("checkpointLocation", checkpoint_dir)
        )
    elif strategy == "stateful":
        if len(tuple(key_cols)) != 1:
            raise ValueError("stateful strategy keys state by a single column")
        from flink_cdc_connectors_spark.streaming.stateful import (
            streaming_changelog_normalize,
        )

        normalized = streaming_changelog_normalize(
            changelog_stream, key_col=tuple(key_cols)[0]
        )
        writer = (
            normalized.writeStream.outputMode("update")
            .foreachBatch(lambda df, epoch: _append_state_updates(df, state_dir))
            .option("checkpointLocation", checkpoint_dir)
        )
    else:
        raise ValueError(f"strategy must be 'stateful' or 'rewrite', got {strategy!r}")
    return drain(writer) if available_now else writer.start()


def read_latest_state(
    spark: SparkSession, state_dir: str, key_cols: list[str] = ("user_id",)
) -> DataFrame:
    """Query view over the materialized store: latest row per key, live
    rows only (tombstones filtered) — the upsert-sink read contract.

    Handles both store layouts: the stateful update LOG (several updates
    per key across epochs — resolve by max offset) and the rewrite store
    (already one row per key — the window is a no-op)."""
    state = spark.read.parquet(state_dir)
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        state.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return latest.filter(F.col("op") != "delete")


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
    the number of tombstone ROWS removed."""
    state = spark.read.parquet(state_dir)
    n_before = state.filter(F.col("op") == "delete").count()
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        state.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    kept = latest.filter(
        (F.col("op") != "delete") | (F.col("event_id") > safe_offset)
    )
    n_after = kept.filter(F.col("op") == "delete").count()
    removed = n_before - n_after
    if removed:
        tmp = state_dir.rstrip("/") + ".compact"
        kept.write.mode("overwrite").parquet(tmp)
        import shutil

        shutil.rmtree(state_dir)
        os.replace(tmp, state_dir)
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
