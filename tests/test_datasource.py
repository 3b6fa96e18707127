"""DataSource V2 streaming source tests: `cdc_binlog` end-to-end.

The DSv2 analog of the reference's source ITCases: run the two-phase
stream (parallel chunk snapshot -> log tail), materialize, compare with
the batch normalize of the whole log.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_cdc_connectors_spark.operators.cdc import changelog_normalize
from flink_cdc_connectors_spark.sources import datasource
from flink_cdc_connectors_spark.sources.envelope import changelog_view
from flink_cdc_connectors_spark.sources.loaders import load_table

EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    datasource.register(spark)


def _normalize_batch(spark, sf_dir):
    return (
        changelog_normalize(changelog_view(load_table(spark, sf_dir, "events")))
        .select("user_id", "event_id")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("snapshot_fraction", ["1.0", "0.6"])
def test_dsv2_stream_materializes_to_batch_state(
    spark, sf_dir, tmp_path, snapshot_fraction
):
    stream = (
        spark.readStream.format("cdc_binlog")
        .option("path", EVENTS)
        .option("numChunks", 3)
        .option("snapshotFraction", snapshot_fraction)
        .load()
    )
    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.read.parquet(out_dir)
    got = (
        changelog_normalize(emitted)
        .select("user_id", "event_id")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    want = _normalize_batch(spark, sf_dir)
    assert len(got) == len(want) > 0
    assert (got["user_id"] == want["user_id"]).all()
    assert (got["event_id"] == want["event_id"]).all()
    # with a partial snapshot, the stream phase must have emitted raw
    # changes (not only snapshot inserts)
    if snapshot_fraction == "0.6":
        assert emitted.filter(F.col("op") != "insert").count() > 0


def test_dsv2_offsets_resume_from_checkpoint(spark, tmp_path):
    """Restarting against the same checkpoint re-emits nothing (the offset
    {phase, hw, off} is durable — DebeziumOffset restore analog)."""
    out_dir, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.format("cdc_binlog").option("path", EVENTS).load()
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    n1 = spark.read.parquet(out_dir).count()
    run()  # resume: same checkpoint, static log -> no new rows
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == n2 > 0


def test_dsv2_staggered_chunk_watermarks(spark, sf_dir, tmp_path):
    """Full DBLog fidelity: chunks snapshot at DIFFERENT watermarks (DML
    landing during the snapshot phase); the stream phase starts at the MIN
    watermark and shouldEmit drops per-chunk duplicates. Materialized
    state must still equal the whole-log normalize — and events between
    the min and max chunk watermark must appear EXACTLY once."""
    stream = (
        spark.readStream.format("cdc_binlog")
        .option("path", EVENTS)
        .option("numChunks", 4)
        .option("snapshotFraction", "0.8")
        .option("staggerChunks", "true")
        .load()
    )
    out_dir, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.read.parquet(out_dir)
    got = (
        changelog_normalize(emitted)
        .select("user_id", "event_id")
        .toPandas().sort_values("user_id").reset_index(drop=True)
    )
    want = _normalize_batch(spark, sf_dir)
    assert len(got) == len(want) > 0
    assert (got["user_id"] == want["user_id"]).all()
    assert (got["event_id"] == want["event_id"]).all()
    # no stream event may be emitted twice (shouldEmit dedup): snapshot
    # rows all carry op='insert'; raw stream rows keep their real op and
    # must be unique per offset
    raw = emitted.filter(F.col("op") != "insert")
    assert raw.count() == raw.select("event_id").distinct().count() > 0


@pytest.mark.parametrize(
    "mode,opts,expect",
    [
        ("earliest-offset", {}, "all"),          # whole log, no snapshot
        ("latest-offset", {}, "none"),            # static log -> nothing new
        ("specific-offset", {"startupOffset": "500"}, "suffix"),
        ("timestamp", {"startupTimestampMs": "1705276800000"}, "by_ts"),  # 2024-01-15
    ],
)
def test_dsv2_startup_modes(spark, sf_dir, tmp_path, mode, opts, expect):
    """Non-initial startup positions skip the snapshot and start the log at
    the resolved offset (StartupMode.java:24-33)."""
    reader = (
        spark.readStream.format("cdc_binlog")
        .option("path", EVENTS)
        .option("startupMode", mode)
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    out_dir, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        reader.load()
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        emitted = spark.read.parquet(out_dir)
        n = emitted.count()
    except Exception:
        n = 0  # empty sink dir -> nothing emitted
    events = load_table(spark, sf_dir, "events")
    if expect == "all":
        assert n == events.count()
        # no snapshot phase: raw ops preserved, nothing re-tagged 'insert'-only
        assert emitted.filter(F.col("op") == "delete").count() > 0
    elif expect == "none":
        assert n == 0
    elif expect == "suffix":
        assert n == events.filter("event_id > 500").count() > 0
        assert emitted.agg(F.min("event_id")).first()[0] == 501
    else:  # by_ts
        want = events.filter(F.col("ts") >= "2024-01-15 00:00:00").count()
        assert n == want > 0


def test_dsv2_schema_history_add_column_mid_stream(spark, sf_dir, tmp_path):
    """Offset-versioned decode (FlinkDatabaseHistory / SnapshotSplit.
    tableSchemas analog): with a schema history declaring ADD COLUMN
    event_type at a mid-log offset, the source's produced type carries the
    evolved schema, pre-DDL splits decode it as NULL (the column did not
    exist at their offset), and post-DDL splits surface real values."""
    from flink_cdc_connectors_spark.sources.schema_history import SchemaHistory

    events = load_table(spark, sf_dir, "events")
    max_off = events.agg(F.max("event_id")).first()[0]
    ddl_off = int(max_off * 0.5)

    h = SchemaHistory()
    h.apply_ddl(
        "app", "events", 0,
        "CREATE TABLE events (user_id BIGINT, value DOUBLE, props VARCHAR)",
    )
    h.apply_ddl(
        "app", "events", ddl_off, "ALTER TABLE events ADD COLUMN event_type VARCHAR"
    )

    out_dir, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.format("cdc_binlog")
        .option("path", EVENTS)
        .option("numChunks", 2)
        .option("snapshotFraction", 0.4)  # snapshot HW < ddl_off
        .option("schemaHistoryJson", h.to_json())
        .load()
    )
    assert "event_type" in stream.schema.names  # produced type = latest version
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.read.parquet(out_dir)
    pre = emitted.filter(F.col("event_id") < ddl_off)
    post = emitted.filter(F.col("event_id") >= ddl_off)
    assert pre.count() > 0 and post.count() > 0
    # pre-DDL events decoded with the old schema: column conformed to NULL
    assert pre.filter(F.col("event_type").isNotNull()).count() == 0
    # post-DDL events decoded with the evolved schema: real values
    assert post.filter(F.col("event_type").isNull()).count() == 0
    # and the evolved rows keep the pinned op/value columns intact
    assert post.filter(F.col("user_id").isNull()).count() == 0


def test_dsv2_offset_documents_are_versioned():
    """Every offset document the reader emits carries the format stamp
    (the reference's versioned split serializers)."""
    from pyspark.sql.types import StructType

    r = datasource.CdcBinlogStreamReader(StructType([]), {"path": EVENTS})
    assert r.initialOffset()["v"] == datasource.OFFSET_FORMAT_VERSION
    assert r.latestOffset()["v"] == datasource.OFFSET_FORMAT_VERSION


def test_dsv2_restores_v0_unversioned_checkpoint():
    """A round-3 (pre-versioning) checkpoint document — no "v" stamp, no
    composite binlog form — restores by migration, the
    MySqlCompatibilityITCase analog: planning from it yields the same
    partitions as the current-format equivalent."""
    from pyspark.sql.types import StructType

    r = datasource.CdcBinlogStreamReader(StructType([]), {"path": EVENTS})
    cur_start, cur_end = r.initialOffset(), r.latestOffset()
    v0_start = {"phase": cur_start["phase"], "hw": cur_start["hw"], "off": cur_start["off"]}
    v0_end = {"phase": cur_end["phase"], "hw": cur_end["hw"], "off": cur_end["off"]}

    def spans(parts):
        return [
            (type(p).__name__,) + tuple(
                getattr(p, a) for a in ("lo", "hi", "start", "end") if hasattr(p, a)
            )
            for p in parts
        ]

    assert spans(r.partitions(v0_start, v0_end)) == spans(
        r.partitions(cur_start, cur_end)
    )


def test_dsv2_rejects_newer_checkpoint_format():
    """A checkpoint stamped by a NEWER engine must fail loudly, never be
    misread (the reason the reference bumps serializer versions)."""
    from pyspark.sql.types import StructType

    r = datasource.CdcBinlogStreamReader(StructType([]), {"path": EVENTS})
    start = r.initialOffset()
    future = dict(r.latestOffset(), v=datasource.OFFSET_FORMAT_VERSION + 1)
    with pytest.raises(ValueError, match="newer than this engine"):
        r.partitions(start, future)


def test_dsv2_crash_mid_drain_exactly_once(spark, tmp_path):
    """The reference's flagship exactly-once claim (mysql-cdc.md:554-557)
    under its actual failure mode: a crash INSIDE a rate-limited
    multi-batch drain (Spark's Python API has no Trigger.AvailableNow —
    the engine falls back to single-batch — so the bounded drain IS the
    processing-time rate-limited stream). The sink dies after delivering
    2 of 4 capped batches; the restart must finish the drain with at most
    Spark's own documented replay of the single pending batch (same
    batch_id — the idempotent-sink contract) and NOTHING else re-emitted:
    an idempotent sink keyed by batch_id sees every offset exactly once,
    with no gap and no regression of the offset log's delivered ranges.

    Pins the restore bug this round fixed: latestOffset() is called with
    no view of the restored checkpoint (and before initialOffset even on
    fresh queries), so a blindly re-seeded planning cursor regressed the
    offset log and re-emitted delivered batches under NEW batch_ids —
    dupes no idempotent sink could filter."""
    ckpt = str(tmp_path / "ckpt")

    def run(crash_after):
        delivered = []  # (batch_id, ids)

        def fb(df, bid):
            ids = [r.event_id for r in df.select("event_id").collect()]
            if ids:
                delivered.append((bid, ids))
            if len(delivered) >= crash_after:
                raise RuntimeError("simulated mid-drain crash")

        q = (
            spark.readStream.format("cdc_binlog")
            .option("path", EVENTS)
            .option("startupMode", "specific-offset")
            .option("startupOffset", 799)
            .option("maxOffsetsPerBatch", 50)
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        except Exception:
            pass  # the simulated crash surfaces as StreamingQueryException
        finally:
            try:
                q.stop()
            except Exception:
                pass
        return delivered

    d1 = run(crash_after=2)  # crash while batch 2 is uncommitted
    d2 = run(crash_after=99)  # restart from the checkpoint, finish
    assert len(d1) == 2 and len(d2) >= 2, "drain did not resume"
    # idempotent sink: last write per batch_id wins (the replayed pending
    # batch re-delivers under its ORIGINAL batch_id and must carry the
    # identical rows)
    by_bid = {}
    replayed = 0
    for bid, ids in d1 + d2:
        if bid in by_bid:
            assert sorted(by_bid[bid]) == sorted(ids), (
                f"replay of batch {bid} delivered different rows"
            )
            replayed += 1
        by_bid[bid] = ids
    assert replayed <= 1, "more than the single pending batch was replayed"
    flat = [i for ids in by_bid.values() for i in ids]
    assert len(flat) == len(set(flat)), "a NEW batch_id re-emitted delivered rows"
    assert sorted(flat) == list(range(800, 1000)), "gap or truncation across the crash"
    for _, ids in d1 + d2:
        assert max(ids) - min(ids) < 50, "restart broke the offset cap"


def test_dsv2_recovery_call_is_not_delivery_evidence():
    """On restore with a pending WAL batch, Spark issues a degenerate
    partitions(pending_end, pending_end) recovery call BEFORE replaying
    the pending batch. Its offsets are uncommitted — if the reader took
    them as the delivered floor, the replay that follows would plan an
    EMPTY range and the pending batch's rows would be lost (the sink
    never side-effected them). Drive the exact restore call sequence on a
    fresh reader and assert the replay still carries its rows."""
    from pyspark.sql.types import StructType

    opts = {
        "path": EVENTS,
        "startupmode": "specific-offset",
        "startupoffset": "799",
        "maxoffsetsperbatch": "50",
    }
    r = datasource.CdcBinlogStreamReader(StructType([]), opts)
    start = r._offset_dict("stream", 799, 849, dlv=799)  # committed batch 1 end
    pending = r._offset_dict("stream", 799, 899, dlv=799)  # uncommitted batch 2 end
    r.partitions(pending, pending)  # Spark's recovery call
    parts = r.partitions(start, pending)  # the pending-batch replay
    rows = sum(b.num_rows for p in parts for b in r.read(p))
    assert rows == 50, f"pending-batch replay lost rows (got {rows})"
    # and the cursor learned the pending end: the next plan advances past
    # it instead of regressing the offset log
    nxt = r.latestOffset()
    assert nxt["off"] == 949, f"cursor did not resume past the replay: {nxt['off']}"


def test_dsv2_max_offsets_per_batch_rate_limit(spark, tmp_path):
    """maxOffsetsPerBatch (the debezium.max.batch.size passthrough) must
    drain a long tail as MULTIPLE contiguous micro-batches — no gaps, no
    overlaps, no truncation — with each batch's offset span capped. The
    end offset's chunk-plan watermark must follow the startup mode, or
    the per-chunk shouldEmit filter silently drops the later batches
    (the bug this test pins)."""
    stream = (
        spark.readStream.format("cdc_binlog")
        .option("path", EVENTS)
        .option("startupMode", "specific-offset")
        .option("startupOffset", 799)
        .option("maxOffsetsPerBatch", 50)
        .load()
    )
    batches = []

    def fb(df, _bid):
        ids = [r.event_id for r in df.select("event_id").collect()]
        if ids:
            batches.append(ids)

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(batches) >= 3, f"tail of 200 drained in {len(batches)} batches"
    for ids in batches:
        assert max(ids) - min(ids) < 50, "batch exceeded the offset cap"
    flat = [i for ids in batches for i in ids]
    assert len(flat) == len(set(flat)), "overlapping batches re-emitted rows"
    assert sorted(flat) == list(range(800, 1000)), "gap or truncation in drain"


def test_dsv2_type_change_resnapshots_mid_stream(spark, sf_dir, tmp_path):
    """A COLUMN TYPE CHANGE in the schema history forces the streaming
    source to RE-SNAPSHOT mid-stream (the suspend/backfill/resume flow,
    streaming form): the batch whose range crosses the boundary plans
    chunk partitions AT it, decoded under the NEW schema, and the tail
    continues past it. Pre-boundary stream rows decode under the OLD
    precision and conform up; the materialized state still equals the
    whole-log normalize."""
    from flink_cdc_connectors_spark.sources.schema_history import SchemaHistory

    events = load_table(spark, sf_dir, "events")
    max_off = events.agg(F.max("event_id")).first()[0]
    # LATE boundary (99%): some keys' FINAL image must come from the
    # re-snapshot itself, or the tie-break assertion below is vacuous
    # (with the fixture's dense churn an early boundary leaves no key
    # whose last change precedes it)
    ddl_off = int(max_off * 0.99)

    h = SchemaHistory()
    h.apply_ddl(
        "app", "events", 0,
        "CREATE TABLE events (user_id BIGINT, value DECIMAL(10,0), props VARCHAR)",
    )
    h.apply_ddl(
        "app", "events", ddl_off, "ALTER TABLE events MODIFY value DECIMAL(18,2)"
    )

    stream = (
        spark.readStream.format("cdc_binlog")
        .option("path", EVENTS)
        .option("numChunks", 3)
        .option("snapshotFraction", 0.4)  # initial snapshot well before the DDL
        .option("schemaHistoryJson", h.to_json())
        .load()
    )
    # produced type is pinned to the LATEST version; a type-change history
    # also pins the schema_epoch tie-break column
    assert dict(stream.dtypes)["value"] == "decimal(18,2)"
    assert dict(stream.dtypes)["schema_epoch"] == "int"
    out_dir, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.read.parquet(out_dir)
    snap_hw = int(max_off * 0.4)

    # the re-snapshot happened: INSERT-tagged image rows whose offsets lie
    # strictly between the initial snapshot watermark and the boundary can
    # only come from the boundary re-read
    resnap = emitted.filter(
        (F.col("op") == "insert")
        & (F.col("event_id") > snap_hw)
        & (F.col("event_id") < ddl_off)
    )
    assert resnap.count() > 0, "no re-snapshot image rows emitted"

    # epoch decode: pre-boundary STREAM rows (non-insert ops) carry the
    # (10,0) image — whole units, cents LOST; the re-snapshot re-read and
    # the post-boundary tail carry real cents at (18,2)
    frac = F.col("value") != F.floor(F.col("value"))
    pre = emitted.filter((F.col("op") != "insert") & (F.col("event_id") < ddl_off))
    assert pre.count() > 0
    assert pre.filter(frac).count() == 0, (
        "pre-boundary rows must be the lossy (10,0) decode"
    )
    assert resnap.filter(frac).count() > 0, (
        "the re-snapshot must recover the cents the v1 decode lost"
    )
    post = emitted.filter(F.col("event_id") >= ddl_off)
    assert post.filter(frac).count() > 0, (
        "post-boundary rows decode at the new (18,2) type"
    )

    # convergence: materializing EVERYTHING the source emitted equals the
    # whole-log normalize (re-snapshot superseded by the tail, no loss)
    normed = changelog_normalize(emitted)
    got = (
        normed.select("user_id", "event_id")
        .toPandas().sort_values("user_id").reset_index(drop=True)
    )
    want = _normalize_batch(spark, sf_dir)
    assert len(got) == len(want) > 0
    assert (got["user_id"] == want["user_id"]).all()
    assert (got["event_id"] == want["event_id"]).all()

    # VALUE determinism (the tie the schema_epoch column exists to break):
    # a key whose final change precedes the boundary has TWO rows at the
    # same (ts, event_id) — the raw change under the lossy (10,0) decode
    # and the re-snapshot image under (18,2). The normalize must pick the
    # image for every such key, so every materialized value equals the
    # new-type decode of the raw log — including the recovered cents.
    want_vals = changelog_normalize(
        changelog_view(load_table(spark, sf_dir, "events"))
    ).select("user_id", F.col("value").cast("decimal(18,2)").alias("want_value"))
    joined = normed.join(want_vals, "user_id")
    assert joined.filter(F.col("value") != F.col("want_value")).count() == 0, (
        "a stale old-type decode won the (ts, event_id) tie"
    )
    # non-vacuity: some surviving key's final image IS the re-snapshot's,
    # with cents the (10,0) decode would have lost
    kept = joined.filter(
        (F.col("event_id") < ddl_off) & (F.col("value") != F.floor(F.col("value")))
    )
    assert kept.count() > 0, "no key kept a fractional re-snapshot image"


def test_dsv2_type_change_resnapshot_survives_crash_restart(spark, tmp_path):
    """The two round-6 features composed: a rate-limited drain whose
    boundary batch (the one that plans the mid-stream type-change
    re-snapshot) CRASHES before committing. The restart must replay that
    batch IDENTICALLY (same batch_id, same rows — re-snapshot chunks are
    planned deterministically from the checkpointed offsets) and finish
    the drain with no new-batch_id duplicates and no gap; epoch decode
    precision must hold across the restart."""
    from flink_cdc_connectors_spark.sources.schema_history import SchemaHistory

    h = SchemaHistory()
    h.apply_ddl(
        "app", "events", 0,
        "CREATE TABLE events (user_id BIGINT, value DECIMAL(10,0), props VARCHAR)",
    )
    h.apply_ddl("app", "events", 900, "ALTER TABLE events MODIFY value DECIMAL(18,2)")
    ckpt = str(tmp_path / "ckpt")

    def run(crash_after):
        delivered = []

        def fb(df, bid):
            rows = df.select("op", "event_id", "value").collect()
            if rows:
                delivered.append((bid, rows))
            if len(delivered) >= crash_after:
                raise RuntimeError("simulated crash on the boundary batch")

        q = (
            spark.readStream.format("cdc_binlog")
            .option("path", EVENTS)
            .option("startupMode", "specific-offset")
            .option("startupOffset", 799)
            .option("maxOffsetsPerBatch", 60)  # boundary 900 inside batch 2
            .option("schemaHistoryJson", h.to_json())
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        except Exception:
            pass
        finally:
            try:
                q.stop()
            except Exception:
                pass
        return delivered

    d1 = run(crash_after=2)  # batch 2 = (841, 919] + the 900-boundary re-snapshot
    d2 = run(crash_after=99)
    by_bid = {}
    replays = 0
    for bid, rows in d1 + d2:
        key = sorted((r.event_id, r.op, r.value) for r in rows)
        if bid in by_bid:
            assert by_bid[bid] == key, f"replay of batch {bid} differs"
            replays += 1
        by_bid[bid] = key
    assert replays == 1, "exactly the pending boundary batch must replay"
    flat = [t for rows in by_bid.values() for t in rows]
    # raw (non-insert) stream events are unique and cover the tail exactly
    raw_ids = [eid for eid, op, _ in flat if op != "insert"]
    assert len(raw_ids) == len(set(raw_ids)), "a raw change was double-emitted"
    # the boundary batch carried re-snapshot image rows (inserts at or
    # below the boundary beyond what batch 1's range could produce)
    img = [eid for eid, op, _ in flat if op == "insert" and eid <= 899]
    assert len(img) > 0
    # epoch decode across the restart: pre-boundary STREAM rows are the
    # lossy (10,0) decode (integral); the re-snapshot image rows (inserts
    # at or below the boundary) re-read under (18,2) and RECOVER cents —
    # raw pre-boundary inserts are integral, so any fractional insert
    # <= 899 proves the image decoded under the new schema
    pre_stream = [v for eid, op, v in flat if eid < 900 and op != "insert"]
    assert pre_stream and all(v == int(v) for v in pre_stream)
    pre_ins = [v for eid, op, v in flat if eid <= 899 and op == "insert"]
    assert any(v != int(v) for v in pre_ins), (
        "re-snapshot image rows must recover the cents the v1 decode lost"
    )
    post_vals = [v for eid, _, v in flat if eid >= 900]
    assert any(v != int(v) for v in post_vals)

def test_dsv2_newly_added_range_via_checkpointed_restart(spark, sf_dir, tmp_path):
    """The newly-added-tables protocol through the CHECKPOINTED DSv2
    source (the last batch-only protocol, wired here): run a capture of
    HALF the key space against the log-so-far, stop, let the log grow,
    then RESTART from the same checkpoint with a WIDENED keyRanges list —
    the reference's regex-matched new table arriving at restore
    (MySqlSourceReader.java:147-240, BinlogSplitUpdateRequestEvent,
    NewlyAddedTableITCase.java). The restored run must backfill the new
    range at the suspend offset (the restored position), resume the
    stream over BOTH ranges, and materialize to the whole-log normalize —
    no gaps, no double reads."""
    import duckdb

    events = load_table(spark, sf_dir, "events")
    k_lo, k_hi_incl, max_off = events.agg(
        F.min("user_id"), F.max("user_id"), F.max("event_id")
    ).first()
    k_hi = k_hi_incl + 1
    mid = (k_lo + k_hi) // 2
    cut = int(max_off * 0.7)

    # the log-so-far: a duck-written truncated copy (the DSv2 source reads
    # its fixture through DuckDB, so this preserves exact column types)
    early_log = str(tmp_path / "early_events.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT * FROM '{EVENTS}' WHERE event_id <= {cut}) "
        f"TO '{early_log}' (FORMAT PARQUET)"
    )
    out_dir, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run(path, ranges):
        q = (
            spark.readStream.format("cdc_binlog")
            .option("path", path)
            .option("numChunks", 2)
            .option("snapshotFraction", 0.6)  # leave a phase-1 stream tail
            .option("keyRanges", str(list(ranges)).replace("(", "[").replace(")", "]"))
            .option("newlyAddedTables", "true")  # backfill is an explicit opt-in
            .load()
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(early_log, [(k_lo, mid)])  # capture only the first "table"
    phase1 = spark.read.parquet(out_dir)
    assert phase1.filter(F.col("user_id") >= mid).count() == 0, (
        "uncaptured range leaked into the narrow capture"
    )
    assert phase1.count() > 0

    # the log grows, and the restart adds the second "table" to the regex
    run(EVENTS, [(k_lo, mid), (mid, k_hi)])
    emitted = spark.read.parquet(out_dir)

    # the backfill happened: INSERT image rows for the added range at
    # offsets at or below the suspend point (<= cut) can only come from
    # the restart's chunk backfill
    backfill = emitted.filter(
        (F.col("user_id") >= mid)
        & (F.col("op") == "insert")
        & (F.col("event_id") <= cut)
    )
    assert backfill.count() > 0, "no backfill image rows for the added range"
    # the resumed stream covered the added range past the suspend point
    assert emitted.filter(
        (F.col("user_id") >= mid) & (F.col("event_id") > cut)
    ).count() > 0
    # raw (non-insert) changes are exactly-once across both runs
    raw = emitted.filter(F.col("op") != "insert").select("event_id")
    assert raw.count() == raw.distinct().count(), "a raw change double-emitted"

    # convergence: everything emitted materializes to the whole-log state
    got = (
        changelog_normalize(emitted)
        .select("user_id", "event_id")
        .toPandas().sort_values("user_id").reset_index(drop=True)
    )
    want = _normalize_batch(spark, sf_dir)
    assert len(got) == len(want) > 0
    assert (got["user_id"] == want["user_id"]).all()
    assert (got["event_id"] == want["event_id"]).all()


def test_dsv2_added_range_backfill_survives_crash_restart(spark, tmp_path):
    """Crash AT the newly-added-range boundary: the restarted run's batch
    that plans the backfill chunks dies before committing; its replay must
    be IDENTICAL (the backfill plan is deterministic from the committed
    start document) and the finished drain exactly-once."""
    import duckdb

    max_off = 999
    cut, mid = 700, 8
    early_log = str(tmp_path / "early_events.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT * FROM '{EVENTS}' WHERE event_id <= {cut}) "
        f"TO '{early_log}' (FORMAT PARQUET)"
    )
    ckpt = str(tmp_path / "ckpt")

    def run(path, ranges, crash_after=None, max_per_batch=None):
        delivered = []

        def fb(df, bid):
            rows = df.select("op", "user_id", "event_id").collect()
            if rows:
                delivered.append((bid, rows))
            if crash_after is not None and len(delivered) >= crash_after:
                raise RuntimeError("simulated crash on the backfill batch")

        reader = (
            spark.readStream.format("cdc_binlog")
            .option("path", path)
            .option("numChunks", 2)
            .option("keyRanges", str([list(r) for r in ranges]))
            .option("newlyAddedTables", "true")  # backfill is an explicit opt-in
        )
        if max_per_batch:
            reader = reader.option("maxOffsetsPerBatch", max_per_batch)
        q = (
            reader.load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        except Exception:
            pass
        finally:
            try:
                q.stop()
            except Exception:
                pass
        return delivered

    d0 = run(early_log, [(0, mid)])  # narrow capture of the log-so-far
    assert sum(len(r) for _, r in d0) > 0
    # restart with the widened list, rate-limited, crashing on the FIRST
    # batch the new run delivers (the one that plans the backfill chunks)
    d1 = run(EVENTS, [(0, mid), (mid, 100)], crash_after=1, max_per_batch=80)
    d2 = run(EVENTS, [(0, mid), (mid, 100)], max_per_batch=80)

    by_bid = {}
    replays = 0
    for bid, rows in d1 + d2:
        key = sorted((r.event_id, r.op, r.user_id) for r in rows)
        if bid in by_bid:
            assert by_bid[bid] == key, f"replay of batch {bid} differs"
            replays += 1
        by_bid[bid] = key
    assert replays == 1, "exactly the pending backfill batch must replay"
    flat = [t for rows in by_bid.values() for t in rows]
    # the backfill image rows exist for the added range at/below the cut
    img = [eid for eid, op, uid in flat if op == "insert" and uid >= mid and eid <= cut]
    assert img, "no backfill image rows for the added range"
    # the resumed tail (> cut: every row there is a raw change — signup
    # inserts included; backfill images all sit at or below the cut) is
    # unique and gap-free across the crash
    tail = sorted(eid for eid, _, _ in flat if eid > cut)
    assert len(tail) == len(set(tail)), "a raw change double-emitted"
    assert tail == list(range(cut + 1, max_off + 1)), "gap in the resumed tail"


def test_dsv2_type_change_resnapshot_respects_key_ranges(spark, tmp_path):
    """keyRanges x type-change composition: a mid-stream re-snapshot in
    explicit-capture mode must re-read ONLY the captured ranges — never
    the whole key space (which would widen the capture into keys the
    configuration excludes) — and uncaptured keys stay invisible in the
    stream phase too."""
    from flink_cdc_connectors_spark.sources.schema_history import SchemaHistory

    h = SchemaHistory()
    h.apply_ddl(
        "app", "events", 0,
        "CREATE TABLE events (user_id BIGINT, value DECIMAL(10,0), props VARCHAR)",
    )
    h.apply_ddl("app", "events", 900, "ALTER TABLE events MODIFY value DECIMAL(18,2)")

    # capture only keys [0, 8) — the fixture's key space extends well past
    ranges = [[0, 8]]
    out_dir, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("cdc_binlog")
        .option("path", EVENTS)
        .option("numChunks", 2)
        .option("snapshotFraction", 0.4)
        .option("keyRanges", str(ranges))
        .option("schemaHistoryJson", h.to_json())
        .load()
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.read.parquet(out_dir)
    # nothing outside the captured range — snapshot, stream, OR re-snapshot
    assert emitted.filter(
        (F.col("user_id") < 0) | (F.col("user_id") >= 8)
    ).count() == 0, "re-snapshot/stream leaked uncaptured keys"
    # the re-snapshot happened inside the range: fractional (18,2) image
    # rows at or below the boundary exist for captured keys
    img = emitted.filter(
        (F.col("op") == "insert")
        & (F.col("event_id") <= 899)
        & (F.col("value") != F.floor(F.col("value")))
    )
    assert img.count() > 0, "no new-type re-snapshot images in the captured range"
    # and the tie-break column rides along in keyRanges mode too
    assert "schema_epoch" in emitted.columns


def test_dsv2_narrowed_key_ranges_stop_emitting_at_restart(spark, tmp_path):
    """The inverse protocol: a range REMOVED from keyRanges at restart
    stops emitting immediately (the reference's table filter applies at
    deserialization — a dropped table never reaches the output), while
    the surviving range's tail continues exactly-once."""
    import duckdb

    cut = 700
    early_log = str(tmp_path / "early_events.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT * FROM '{EVENTS}' WHERE event_id <= {cut}) "
        f"TO '{early_log}' (FORMAT PARQUET)"
    )
    out_dir, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run(path, ranges):
        q = (
            spark.readStream.format("cdc_binlog")
            .option("path", path)
            .option("numChunks", 2)
            .option("keyRanges", str([list(r) for r in ranges]))
            .load()
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(early_log, [(0, 8), (8, 100)])  # both "tables" captured
    n_wide_pre = spark.read.parquet(out_dir).filter(F.col("user_id") >= 8).count()
    assert n_wide_pre > 0
    # restart with the second table dropped, against the grown log
    run(EVENTS, [(0, 8)])
    emitted = spark.read.parquet(out_dir)
    dropped_tail = emitted.filter(
        (F.col("user_id") >= 8) & (F.col("event_id") > cut)
    )
    assert dropped_tail.count() == 0, (
        "a range removed from keyRanges kept emitting after the restart"
    )
    kept_tail = emitted.filter((F.col("user_id") < 8) & (F.col("event_id") > cut))
    assert kept_tail.count() > 0, "the surviving range's tail was lost"
    ids = [r.event_id for r in kept_tail.select("event_id").collect()]
    assert len(ids) == len(set(ids)), "surviving-range tail double-emitted"


def test_dsv2_drained_tail_runs_no_zero_row_batch(spark, tmp_path):
    """Every micro-batch of a rate-limited, growing-log drain carries
    rows: once the tail starts landing, an offset document that does not
    advance must not plan a batch (a fresh delivered-watermark stamp
    alone used to run one zero-row batch per data batch)."""
    import duckdb

    log = tmp_path / "log"
    log.mkdir()
    con = duckdb.connect()
    copy = "COPY (SELECT * FROM '{src}' WHERE {cond}) TO '{dst}' (FORMAT PARQUET)"
    con.execute(copy.format(src=EVENTS, cond="event_id <= 899", dst=log / "p1.parquet"))
    q = (
        spark.readStream.format("cdc_binlog")
        .option("path", str(log))
        .option("startupMode", "specific-offset")
        .option("startupOffset", 799)
        .option("maxOffsetsPerBatch", 50)
        .option("refreshLatest", "true")
        .load()
        .writeStream.foreachBatch(lambda df, bid: df.count())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # the log grows: the next increment lands while the query runs
        con.execute(copy.format(src=EVENTS, cond="event_id > 899", dst=log / "p2.parquet"))
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
        con.close()
    # executed batches only (an idle-trigger report runs no sink)
    ran = [p for p in progress if "addBatch" in p.durationMs]
    first = next(i for i, p in enumerate(ran) if p.numInputRows > 0)
    tail = ran[first:]
    assert sum(p.numInputRows for p in tail) == 200
    assert [p.numInputRows for p in tail if p.numInputRows == 0] == [], (
        f"zero-row batches in the drain: {[p.numInputRows for p in tail]}"
    )


def test_dsv2_materialize_default_drain_keeps_rate_limited_tail(spark, tmp_path):
    """``materialize_latest_state`` with default arguments over a
    rate-limited ``cdc_binlog`` stream drains the WHOLE log: the snapshot
    batch and every capped tail batch. (Spark's Python sources fall back
    to a single batch under Trigger.AvailableNow, which used to stop
    after the snapshot and drop the tail without an error.)"""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_cdc_connectors_spark.streaming import (
        materialize_latest_state,
        read_latest_state,
    )

    n, keys = 20_000, 500
    rng = np.random.default_rng(7)
    log = tmp_path / "log"
    log.mkdir()
    ts_us = 1_704_067_200_000_000 + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    etypes = np.array(["signup", "error", "purchase", "view", "click"])
    pq.write_table(
        pa.table(
            {
                "event_id": np.arange(n, dtype=np.int64),
                "ts": pa.array(ts_us).cast(pa.timestamp("us")),
                "user_id": rng.integers(0, keys, n),
                "event_type": etypes[rng.integers(0, len(etypes), n)],
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            }
        ),
        log / "part-0.parquet",
    )
    stream = (
        spark.readStream.format("cdc_binlog")
        .option("path", str(log))
        .option("snapshotFraction", "0.5")
        .option("maxOffsetsPerBatch", 2000)
        .load()
    )
    state_dir = str(tmp_path / "state")
    q = materialize_latest_state(stream, state_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    got = {
        (r.user_id, r.event_id, r.value)
        for r in read_latest_state(spark, state_dir).select(
            "user_id", "event_id", "value"
        ).collect()
    }
    con = duckdb.connect()
    try:
        want = set(
            con.execute(
                f"""SELECT user_id, event_id, value FROM (
                  SELECT *, row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts DESC, event_id DESC) AS rn
                  FROM '{log}/*.parquet'
                ) WHERE rn = 1 AND event_type <> 'error'"""
            ).fetchall()
        )
    finally:
        con.close()
    assert len(want) > 0
    assert got == want, f"{len(want - got)} keys missing or stale, {len(got - want)} extra"


def test_dsv2_capless_v2_checkpoint_restores_without_backfill():
    """A v2 (capless) checkpoint restored by a keyRanges-configured reader
    means the old run captured the WHOLE key space — nothing can be newly
    added, so no backfill chunks may be planned (re-backfilling would
    duplicate every already-delivered key)."""
    from pyspark.sql.types import StructType

    r = datasource.CdcBinlogStreamReader(
        StructType([]),
        # discovery explicitly ON: the no-backfill guarantee must come
        # from the capless-restore semantics, not from the flag default
        {
            "path": EVENTS,
            "keyranges": "[[0, 8], [8, 100]]",
            "newlyaddedtables": "true",
        },
    )
    v2_start = {"v": 2, "phase": "stream", "hw": 500, "off": 500, "dlv": 500}
    v2_end = {"v": 2, "phase": "stream", "hw": 500, "off": 700, "dlv": 500}
    parts = r.partitions(v2_start, v2_end)
    chunks = [p for p in parts if isinstance(p, datasource.ChunkPartition)]
    assert chunks == [], "capless restore must not re-backfill"
    streams = [p for p in parts if isinstance(p, datasource.StreamPartition)]
    assert streams and streams[0].from_off == 500 and streams[-1].to_off == 700


def test_dsv2_v3_cap_diff_plans_backfill_exactly_at_suspend():
    """Unit pin of the capture-set diff: a start document whose cap lacks
    a configured range plans backfill chunks for exactly that range at
    the suspend offset (= the committed start position), stamps the
    range's emit entry at the same offset, and a REPLAY with the same
    documents reproduces the identical plan."""
    from pyspark.sql.types import StructType

    opts = {
        "path": EVENTS,
        "keyranges": "[[0, 8], [8, 100]]",
        "newlyaddedtables": "true",
    }
    start = {
        "v": 3, "phase": "stream", "hw": 500, "off": 600, "dlv": 600,
        "cap": [[0, 8, 500]],
    }
    end = {
        "v": 3, "phase": "stream", "hw": 500, "off": 800, "dlv": 600,
        "cap": [[0, 8, 500], [8, 100, -1]],
    }

    def plan():
        r = datasource.CdcBinlogStreamReader(StructType([]), dict(opts))
        return r.partitions(dict(start), dict(end))

    p1, p2 = plan(), plan()
    sig = lambda ps: sorted(
        (type(p).__name__,) + tuple(
            getattr(p, f) for f in ("key_lo", "key_hi", "hw", "from_off", "to_off")
            if hasattr(p, f)
        )
        for p in ps
    )
    assert sig(p1) == sig(p2), "WAL replay must reproduce the identical plan"
    chunks = [p for p in p1 if isinstance(p, datasource.ChunkPartition)]
    assert chunks, "missing backfill for the added range"
    assert all(c.hw == 600 for c in chunks), "backfill must snapshot at suspend"
    assert all(8 <= c.key_lo and c.key_hi <= 100 for c in chunks), (
        "backfill leaked outside the added range"
    )
    streams = [p for p in p1 if isinstance(p, datasource.StreamPartition)]
    assert streams and dict(
        ((lo, hi), hw) for lo, hi, hw in streams[0].chunk_hws
    )[(8, 100)] == 600, "the added range's emit entry must sit at suspend"


def test_dsv2_backfilled_range_stamp_converges_to_suspend():
    """After a backfill is planned, the reader's OWN documents must stamp
    the added range at the true suspend offset — and keep it when later
    batch documents still carry the pre-backfill placeholder (documents
    stamped before the plan circulate for one more batch)."""
    from pyspark.sql.types import StructType

    r = datasource.CdcBinlogStreamReader(
        StructType([]),
        {
            "path": EVENTS, "keyranges": "[[0, 8], [8, 100]]",
            "newlyaddedtables": "true",
            "startupmode": "specific-offset", "startupoffset": "500",
        },
    )
    start = {
        "v": 3, "phase": "stream", "hw": 500, "off": 600, "dlv": 600,
        "cap": [[0, 8, 500]],
    }
    end = {
        "v": 3, "phase": "stream", "hw": 500, "off": 800, "dlv": 600,
        "cap": [[0, 8, 500], [8, 100, 500]],  # pre-plan placeholder stamp
    }
    r.partitions(dict(start), dict(end))  # plans the backfill at 600
    stamped = {(lo, hi): hw for lo, hi, hw in r.latestOffset()["cap"]}
    assert stamped[(8, 100)] == 600, "stamp must be the suspend offset"
    # a later batch whose start doc still carries the placeholder must not
    # regress the reader's knowledge
    later_start = {
        "v": 3, "phase": "stream", "hw": 500, "off": 800, "dlv": 800,
        "cap": [[0, 8, 500], [8, 100, 500]],
    }
    later_end = {
        "v": 3, "phase": "stream", "hw": 500, "off": 900, "dlv": 800,
        "cap": [[0, 8, 500], [8, 100, 600]],
    }
    r.partitions(later_start, later_end)
    stamped = {(lo, hi): hw for lo, hi, hw in r.latestOffset()["cap"]}
    assert stamped[(8, 100)] == 600, "placeholder adoption regressed the stamp"


@pytest.mark.parametrize(
    "mob,start_off,crash_after",
    [
        (3, 979, 1),   # tiny batches, crash on the FIRST delivered batch
        (1, 994, 2),   # degenerate 1-offset batches
        (50, 999, None),  # empty tail: anchor-only drain must emit nothing
    ],
)
def test_dsv2_rate_limit_edge_configs(spark, tmp_path, mob, start_off, crash_after):
    """Edge configurations of the rate-limited drain: batch sizes at the
    degenerate end (1 offset/batch), a crash on the very first delivered
    batch (the batch right after the non-advancing anchor), and a
    zero-length tail (startup at the log end — the drain must terminate
    having emitted nothing). Exactly-once must hold in every shape."""
    ckpt = str(tmp_path / "ckpt")

    def run(crash):
        delivered = []

        def fb(df, bid):
            rows = df.select("event_id").collect()
            if rows:
                delivered.append((bid, sorted(r.event_id for r in rows)))
            if crash is not None and len(delivered) >= crash:
                raise RuntimeError("edge-config crash")

        q = (
            spark.readStream.format("cdc_binlog")
            .option("path", EVENTS)
            .option("startupMode", "specific-offset")
            .option("startupOffset", str(start_off))
            .option("maxOffsetsPerBatch", mob)
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        except Exception:
            pass
        finally:
            try:
                q.stop()
            except Exception:
                pass
        return delivered

    d1 = run(crash_after)
    d2 = run(None) if crash_after is not None else []
    by_bid = {}
    for bid, ids in d1 + d2:
        if bid in by_bid:
            assert by_bid[bid] == ids, f"replay of batch {bid} differs"
        by_bid[bid] = ids
    flat = sorted(i for ids in by_bid.values() for i in ids)
    assert flat == list(range(start_off + 1, 1000)), (
        f"drain gap/dup under mob={mob} start={start_off}: {flat[:10]}..."
    )
    for _, ids in d1 + d2:
        assert max(ids) - min(ids) < mob or len(ids) == 1, "batch exceeded cap"


def test_dsv2_crash_on_snapshot_batch_replays_chunks_exactly_once(spark, tmp_path):
    """Crash BEFORE committing batch 0 — the batch that carries the
    parallel chunk snapshot. The restart must replay the snapshot batch
    IDENTICALLY (chunk plans are deterministic from the initial offset
    document), emit each image exactly once overall, and the rate-limited
    stream tail must still drain gap-free."""
    ckpt = str(tmp_path / "ckpt")

    def run(crash_first):
        delivered = []

        def fb(df, bid):
            rows = df.select("op", "user_id", "event_id").collect()
            if rows:
                delivered.append((bid, rows))
            if crash_first and len(delivered) == 1:
                raise RuntimeError("crash on the snapshot batch")

        q = (
            spark.readStream.format("cdc_binlog")
            .option("path", EVENTS)
            .option("numChunks", 3)
            .option("snapshotFraction", 0.8)
            .option("maxOffsetsPerBatch", 80)
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        except Exception:
            pass
        finally:
            try:
                q.stop()
            except Exception:
                pass
        return delivered

    d1 = run(True)
    assert len(d1) == 1, "must crash on the very first delivered batch"
    d2 = run(False)
    by_bid = {}
    replays = 0
    for bid, rows in d1 + d2:
        key = sorted((r.event_id, r.op, r.user_id) for r in rows)
        if bid in by_bid:
            assert by_bid[bid] == key, f"snapshot batch {bid} replay differs"
            replays += 1
        by_bid[bid] = key
    assert replays == 1, "exactly the pending snapshot batch must replay"
    # convergence + exactly-once: the union materializes to the whole-log
    # normalize (collapse to latest per key the same way the engine does)
    import pandas as pd

    flat = pd.DataFrame(
        [(eid, op, uid) for rows in by_bid.values() for eid, op, uid in rows],
        columns=["event_id", "op", "user_id"],
    )
    # raw tail rows (> snapshot hw 799) are unique and gap-free to 999
    tail = sorted(flat[flat.event_id > 799].event_id)
    assert tail == list(range(800, 1000))
    # snapshot images appear exactly once per surviving key
    img = flat[(flat.op == "insert") & (flat.event_id <= 799)]
    assert img.user_id.is_unique, "a chunk image row was double-emitted"
    assert len(img) > 0


def test_dsv2_chunk_count_degrades_gracefully():
    """numChunks far beyond the key width must degrade to one chunk per
    key, never empty/inverted chunks — the knob a 1000-executor
    deployment turns up without re-checking the key space."""
    from pyspark.sql.types import StructType

    r = datasource.CdcBinlogStreamReader(
        StructType([]), {"path": EVENTS, "numchunks": "1000"}
    )
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    chunks = [p for p in parts if isinstance(p, datasource.ChunkPartition)]
    assert 0 < len(chunks) <= r.key_hi - r.key_lo
    assert all(c.key_hi > c.key_lo for c in chunks)
    covered = sorted((c.key_lo, c.key_hi) for c in chunks)
    assert covered[0][0] == r.key_lo and covered[-1][1] == r.key_hi
    for a, b in zip(covered, covered[1:]):
        assert a[1] == b[0], "chunk tiling must be gap-free and disjoint"


def test_dsv2_newly_added_tables_flag_gates_restart_backfill():
    """scan.newly-added-table.enabled analog at the DSv2 layer: with
    ``newlyAddedTables=false`` the restart-time capture-set diff plans NO
    backfill for a configured-but-never-captured range, and the emit plan
    covers only the checkpointed capture set — the new range stays an
    uncaptured table, the reference's behavior when the flag is off
    (MySqlSourceOptions.java:232-238). The DEFAULT (option absent) is the
    same gated-off behavior — both layers match the reference's
    scan.newly-added-table.enabled=false default since round 9; the same
    documents DO backfill only with an explicit opt-in."""
    from pyspark.sql.types import StructType

    opts = {
        "path": EVENTS,
        "keyranges": "[[0, 8], [8, 100]]",
        "startupmode": "specific-offset",
        "startupoffset": "500",
    }
    start = {
        "v": 3, "phase": "stream", "hw": 500, "off": 600, "dlv": 600,
        "cap": [[0, 8, 500]],
    }
    end = {
        "v": 3, "phase": "stream", "hw": 500, "off": 800, "dlv": 600,
        "cap": [[0, 8, 500]],
    }
    gated = datasource.CdcBinlogStreamReader(
        StructType([]), {**opts, "newlyaddedtables": "false"}
    )
    parts = gated.partitions(dict(start), dict(end))
    assert [p for p in parts if isinstance(p, datasource.ChunkPartition)] == [], (
        "flag off: the never-captured range must not be backfilled"
    )
    streams = [p for p in parts if isinstance(p, datasource.StreamPartition)]
    assert streams and {(lo, hi) for lo, hi, _ in streams[0].chunk_hws} == {
        (0, 8)
    }, "flag off: emit entries must cover only the checkpointed capture set"

    default = datasource.CdcBinlogStreamReader(StructType([]), dict(opts))
    parts2 = default.partitions(dict(start), dict(end))
    assert [p for p in parts2 if isinstance(p, datasource.ChunkPartition)] == [], (
        "default (option absent) must match the reference's flag-off behavior"
    )

    opted = datasource.CdcBinlogStreamReader(
        StructType([]), {**opts, "newlyaddedtables": "true"}
    )
    parts3 = opted.partitions(dict(start), dict(end))
    chunks3 = [p for p in parts3 if isinstance(p, datasource.ChunkPartition)]
    assert chunks3 and all(8 <= c.key_lo and c.key_hi <= 100 for c in chunks3), (
        "explicit opt-in turns the protocol on: the added range backfills"
    )


def test_dsv2_capture_set_swap_at_restart():
    """A restart that SWAPS one captured range for another (narrow + add
    in the same diff — the regex changed, not just widened): the dropped
    range stops emitting in the first post-restart batch, the new range
    backfills at suspend; with newlyAddedTables=false the swap degrades
    to pure narrowing (no backfill, emit covers only the intersection)."""
    from pyspark.sql.types import StructType

    opts = {
        "path": EVENTS,
        "keyranges": "[[8, 100]]",  # configured: B only (A=[0,8) dropped)
        "newlyaddedtables": "true",
        "startupmode": "specific-offset",
        "startupoffset": "500",
    }
    start = {
        "v": 3, "phase": "stream", "hw": 500, "off": 600, "dlv": 600,
        "cap": [[0, 8, 500]],  # checkpoint captured: A only
    }
    end = {
        "v": 3, "phase": "stream", "hw": 500, "off": 800, "dlv": 600,
        "cap": [[0, 8, 500]],
    }
    r = datasource.CdcBinlogStreamReader(StructType([]), dict(opts))
    parts = r.partitions(dict(start), dict(end))
    chunks = [p for p in parts if isinstance(p, datasource.ChunkPartition)]
    assert chunks and all(8 <= c.key_lo and c.key_hi <= 100 for c in chunks), (
        "the added range must backfill"
    )
    assert all(c.hw == 600 for c in chunks), "backfill snapshots at suspend"
    streams = [p for p in parts if isinstance(p, datasource.StreamPartition)]
    emit = {(lo, hi) for lo, hi, _ in streams[0].chunk_hws}
    assert emit == {(8, 100)}, (
        "the dropped range must vanish from the emit plan in the SAME batch"
    )

    gated = datasource.CdcBinlogStreamReader(
        StructType([]), {**opts, "newlyaddedtables": "false"}
    )
    parts2 = gated.partitions(dict(start), dict(end))
    assert [p for p in parts2 if isinstance(p, datasource.ChunkPartition)] == []
    streams2 = [p for p in parts2 if isinstance(p, datasource.StreamPartition)]
    assert streams2 and {(lo, hi) for lo, hi, _ in streams2[0].chunk_hws} == set(), (
        "flag off: a pure swap leaves nothing captured — emit plan empty"
    )
