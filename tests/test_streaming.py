"""Structured Streaming layer tests — the flagship ITCase pattern.

The reference's workhorse test (MySqlConnectorITCase.java:215-275) applies
live INSERT/UPDATE/DELETE and asserts the materialized sink equals the
expected final state. Here: fixture events -> Debezium-envelope JSON files
(the exact JsonDebeziumDeserializationSchema wire shape) -> file stream ->
max_by streaming aggregate -> update log -> assert the read-back equals
the batch changelog_normalize over the same log.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_cdc_connectors_spark.operators.cdc import changelog_normalize
from flink_cdc_connectors_spark.sources.envelope import (
    changelog_view,
    events_to_debezium_json,
)
from flink_cdc_connectors_spark.sources.loaders import load_table
from flink_cdc_connectors_spark.streaming import (
    materialize_latest_state,
    read_changelog_stream,
    read_latest_state,
    windowed_agg_stream,
)


@pytest.fixture(scope="module")
def envelope_dir(spark, sf_dir, tmp_path_factory):
    """Fixture events as Debezium-envelope JSON text files, split into
    several files so the stream sees multiple micro-batches."""
    out = str(tmp_path_factory.mktemp("envelope") / "events_json")
    events = load_table(spark, sf_dir, "events")
    events_to_debezium_json(events).repartition(4).write.mode("overwrite").text(out)
    return out


@pytest.mark.parametrize(
    "keys", [["user_id"], ["user_id", "shard"]], ids=["user_id", "user_id_shard"]
)
def test_stream_materialize_equals_batch_normalize(
    spark, sf_dir, envelope_dir, tmp_path, keys
):
    """The read-back equals the batch normalize over the same keys. The
    shard splits each user's history, so a key column the aggregate
    ignored would collapse two shards into one row."""
    shard = (F.col("event_id") % 3).alias("shard")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = read_changelog_stream(spark, envelope_dir, max_files_per_trigger=1)
    materialize_latest_state(
        stream.select("*", shard), state_dir, ckpt, key_cols=keys, available_now=True
    )

    cols = [*keys, F.round("value", 2).alias("value_r"), "event_id"]
    got = (
        read_latest_state(spark, state_dir, keys)
        .select(*cols)
        .toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    want = (
        changelog_normalize(
            changelog_view(load_table(spark, sf_dir, "events")).select("*", shard),
            key_cols=keys,
        )
        .select(*cols)
        .toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert want.duplicated("user_id").any() == (len(keys) > 1)
    assert (got[keys] == want[keys]).all(axis=None)
    assert (got["event_id"] == want["event_id"]).all()
    assert (got["value_r"] - want["value_r"]).abs().max() < 1e-9


def test_stream_materialize_is_incremental_and_resumable(
    spark, sf_dir, envelope_dir, tmp_path
):
    """Restarting from the checkpoint must not change the final state
    (exactly-once restore — the DebeziumOffset/dedup contract)."""
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = read_changelog_stream(spark, envelope_dir, max_files_per_trigger=2)
    materialize_latest_state(stream, state_dir, ckpt, available_now=True)
    n1 = read_latest_state(spark, state_dir).count()
    # resume with the same checkpoint: no new input -> state unchanged
    stream2 = read_changelog_stream(spark, envelope_dir)
    materialize_latest_state(stream2, state_dir, ckpt, available_now=True)
    n2 = read_latest_state(spark, state_dir).count()
    assert n1 == n2


def test_read_latest_state_breaks_offset_ties_by_schema_epoch(spark, tmp_path):
    """A re-snapshot image shares its (ts, event_id) with the raw change
    emitted under the old decode, and lands in the update log an epoch
    later. The read-back must rank the log as the aggregate did — with
    ``schema_epoch`` after (ts, event_id) — and return the new decode for
    every key, as ``changelog_normalize`` over the whole log does."""
    import datetime
    import time

    schema = (
        "op string, user_id long, value double, props string, ts timestamp, "
        "event_id long, schema_epoch int"
    )
    t = datetime.datetime(2024, 1, 1)
    raw = [("update", k, 9.0, "{}", t, k, 0) for k in range(200)]
    images = [("update", k, 1.5, "{}", t, k, 1) for k in range(200)]
    src = str(tmp_path / "in")
    spark.createDataFrame(raw, schema).coalesce(1).write.parquet(src + "/b1")
    time.sleep(1.1)  # distinct mtimes: the file source orders oldest-first
    spark.createDataFrame(images, schema).coalesce(1).write.parquet(src + "/b2")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src + "/*")
    )
    state_dir = str(tmp_path / "state")
    q = materialize_latest_state(stream, state_dir, str(tmp_path / "ckpt"))
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [200, 200]

    got = {r["user_id"]: r["value"] for r in read_latest_state(spark, state_dir).collect()}
    want = {
        r["user_id"]: r["value"]
        for r in changelog_normalize(spark.createDataFrame(raw + images, schema)).collect()
    }
    assert got == want == {k: 1.5 for k in range(200)}


def test_windowed_agg_stream_matches_batch_window(spark, sf_dir, envelope_dir, tmp_path):
    """Streamed tumbling-window agg (with watermark) over the full drain
    equals the batch window agg over the same rows."""
    out_dir = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")
    stream = read_changelog_stream(spark, envelope_dir)
    agg = windowed_agg_stream(stream, window_duration="1 hour", watermark="0 seconds")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir)

    # Append-mode emits only windows closed by the watermark; every emitted
    # window must match the batch computation exactly.
    # Batch baseline over the SAME parsed envelope rows the stream consumed
    # (the generator is state-aware: ops are binlog-level, invalid deletes
    # dropped — so the baseline must go through the same parse).
    from flink_cdc_connectors_spark.sources.envelope import (
        events_to_debezium_json,
        parse_debezium_json,
    )

    rows = parse_debezium_json(events_to_debezium_json(load_table(spark, sf_dir, "events")))
    batch_win = (
        rows.groupBy(F.window("ts", "1 hour").alias("w"), "op")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "op", "n", "sum_value")
    )
    joined = got.alias("g").join(
        batch_win.alias("b"), ["window_start", "op"], "inner"
    )
    n_got = got.count()
    assert n_got > 0
    assert joined.filter("g.n <> b.n").count() == 0
    assert joined.count() == n_got


def test_compact_tombstones(spark, sf_dir, envelope_dir, tmp_path):
    """Tombstones at or below the committed offset are removable without
    changing the live view (log-compaction delete-retention)."""
    from flink_cdc_connectors_spark.streaming.changelog import compact_tombstones

    state_dir, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    stream = read_changelog_stream(spark, envelope_dir)
    materialize_latest_state(stream, state_dir, ckpt, available_now=True).awaitTermination(300)
    all_rows = spark.read.parquet(state_dir)
    n_tomb = all_rows.filter("op = 'delete'").count()
    assert n_tomb > 0
    live_before = sorted(r["user_id"] for r in read_latest_state(spark, state_dir).collect())
    max_off = all_rows.agg(F.max("event_id")).first()[0]
    removed = compact_tombstones(spark, state_dir, safe_offset=max_off)
    assert removed == n_tomb
    live_after = sorted(r["user_id"] for r in read_latest_state(spark, state_dir).collect())
    assert live_before == live_after
    assert spark.read.parquet(state_dir).filter("op = 'delete'").count() == 0


def test_compact_tombstones_keeps_a_file_appended_after_its_read(
    spark, envelope_dir, tmp_path, monkeypatch
):
    """A live stream may append to the store while compaction runs: a
    file that lands after the compaction read its input must survive it,
    and every row the compaction read must still resolve the same."""
    from flink_cdc_connectors_spark.streaming.changelog import compact_tombstones

    state_dir, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    materialize_latest_state(read_changelog_stream(spark, envelope_dir), state_dir, ckpt)
    live_before = read_latest_state(spark, state_dir).collect()
    late = spark.read.parquet(state_dir).limit(1).collect()[0].asDict()
    late.update(user_id=-1, op="insert", event_id=late["event_id"] + 10**9)
    max_off = spark.read.parquet(state_dir).agg(F.max("event_id")).first()[0]

    frame = type(spark.range(1))
    count = frame.count
    appended = []

    def count_then_append(df):
        # the first action after compaction's read: a stream's epoch lands
        if not appended:
            appended.append(1)
            spark.createDataFrame([late], spark.read.parquet(state_dir).schema).write.mode(
                "append"
            ).parquet(state_dir)
        return count(df)

    monkeypatch.setattr(frame, "count", count_then_append)
    assert compact_tombstones(spark, state_dir, safe_offset=max_off) > 0
    monkeypatch.undo()
    assert appended
    live_after = read_latest_state(spark, state_dir)
    assert live_after.filter("user_id = -1").count() == 1
    assert sorted(live_after.filter("user_id <> -1").collect()) == sorted(live_before)


def test_route_tables_splits_mixed_stream(spark, sf_dir):
    """A mixed multi-table envelope stream routes by (db, table) — the
    sharding/multi-table capture pattern."""
    from flink_cdc_connectors_spark.sources.envelope import (
        events_to_debezium_json,
        parse_debezium_json,
        route_tables,
    )
    from flink_cdc_connectors_spark.sources.loaders import load_table

    events = load_table(spark, sf_dir, "events")
    half = events.agg(F.max("event_id")).first()[0] // 2
    raw = events_to_debezium_json(
        events.filter(F.col("event_id") <= half), table="user_1"
    ).unionByName(
        events_to_debezium_json(events.filter(F.col("event_id") > half), table="user_2")
    )
    mixed = parse_debezium_json(raw)
    routed = route_tables(mixed)
    assert set(routed) == {("app", "user_1"), ("app", "user_2")}
    n1 = routed[("app", "user_1")].count()
    n2 = routed[("app", "user_2")].count()
    # Routing is lossless: every envelope line lands in exactly one table.
    assert n1 + n2 == raw.count() and n1 > 0 and n2 > 0


def test_watermark_drops_late_events(spark, sf_dir, tmp_path):
    """Late-data handling: after the watermark has advanced past T, an
    event older than T - delay arriving in a later micro-batch must NOT
    produce or amend an emitted window (append mode) — Spark's analog of
    the reference's watermark-bounded consistency windows."""
    import os as _os
    from pyspark.sql import Row

    env_dir = str(tmp_path / "env")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(env_dir)

    def envelope_json(uid, val, ts_ms, pos):
        import json as _json

        return _json.dumps(
            {
                "before": None,
                "after": {"user_id": uid, "value": val, "props": "{}"},
                "source": {"db": "app", "table": "events", "ts_ms": ts_ms,
                           "file": "binlog.000001", "pos": pos},
                "op": "c",
                "ts_ms": ts_ms,
            }
        )

    base = 1_700_000_000_000  # epoch ms, hour-aligned enough for 1h windows
    with open(f"{env_dir}/batch1.json", "w") as f:
        # two events in window W0, then one 3 hours later (advances watermark)
        f.write(envelope_json(1, 10.0, base, 1) + "\n")
        f.write(envelope_json(2, 20.0, base + 60_000, 2) + "\n")
        f.write(envelope_json(3, 30.0, base + 3 * 3_600_000, 3) + "\n")

    def run_drain():
        stream = read_changelog_stream(spark, env_dir)
        agg = windowed_agg_stream(stream, window_duration="1 hour", watermark="10 minutes")
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_drain()

    # a LATE event for W0 arrives after the watermark passed it, plus a
    # fresh event that keeps the stream advancing (so closed windows flush
    # — append mode emits a window one trigger after the watermark passes)
    with open(f"{env_dir}/batch2.json", "w") as f:
        f.write(envelope_json(9, 99.0, base + 120_000, 4) + "\n")
        f.write(envelope_json(4, 40.0, base + 4 * 3_600_000, 5) + "\n")
    run_drain()
    run_drain()  # one more drain flushes any remaining closed windows

    rows = spark.read.parquet(out_dir).orderBy("window_start").collect()
    # W0 (the earliest window) was emitted exactly once, with the 2
    # on-time events summing to 30.0 — the late event (value 99, same
    # window) was dropped by the watermark and never amended the result
    w0 = [r for r in rows if r["n"] == 2]
    assert len(w0) == 1 and abs(w0[0]["sum_value"] - 30.0) < 1e-9
    assert not any(r["n"] == 3 for r in rows)
    assert not any(abs(r["sum_value"] - 129.0) < 1e-9 for r in rows)


def test_stateful_streaming_normalize(spark, sf_dir, envelope_dir):
    """The max_by ChangelogNormalize: per-key state store, update-mode
    emissions. The LAST emission per key must equal the batch
    normalize (state converges to latest-by-offset), with delete
    tombstones for keys whose last event is a delete."""
    from flink_cdc_connectors_spark.streaming.stateful import (
        streaming_changelog_normalize,
    )

    stream = read_changelog_stream(spark, envelope_dir, max_files_per_trigger=1)
    normalized = streaming_changelog_normalize(stream)
    q = (
        normalized.writeStream.outputMode("update")
        .format("memory")
        .queryName("state_updates")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    updates = spark.sql("SELECT * FROM state_updates").toPandas()
    assert len(updates) > 0
    # last emission per key (emissions are monotone in offset per key)
    last = (
        updates.sort_values(["ts_ms", "event_id"])
        .groupby("user_id")
        .tail(1)
        .set_index("user_id")
    )
    # Batch baseline over the SAME parsed envelope (stream and batch must
    # agree on identical input — the generator's state machine makes ops
    # binlog-level and drops invalid deletes on both paths).
    from flink_cdc_connectors_spark.sources.envelope import (
        events_to_debezium_json,
        parse_debezium_json,
    )

    rows = parse_debezium_json(events_to_debezium_json(load_table(spark, sf_dir, "events")))
    batch = changelog_normalize(rows, drop_deletes=False).toPandas().set_index("user_id")
    assert sorted(last.index) == sorted(batch.index)
    for uid in batch.index:
        assert last.loc[uid, "event_id"] == batch.loc[uid, "event_id"], uid
        assert last.loc[uid, "op"] == batch.loc[uid, "op"], uid
    # live view: drop tombstones -> equals the default batch normalize
    live = last[last["op"] != "delete"]
    want_live = changelog_normalize(rows).toPandas()
    assert sorted(live.index) == sorted(want_live["user_id"])


def test_stream_normalize_breaks_offset_ties_by_schema_epoch(spark, tmp_path):
    """A re-snapshot image shares its (ts, event_id) with the raw change
    already emitted under the old decode; the stream normalize must keep
    the higher ``schema_epoch`` whatever the arrival order — inside one
    micro-batch and across batches — exactly as ``changelog_normalize``
    orders."""
    import datetime
    import time

    from flink_cdc_connectors_spark.streaming.stateful import (
        streaming_changelog_normalize,
    )

    schema = (
        "op string, user_id long, value double, props string, ts timestamp, "
        "event_id long, schema_epoch int"
    )
    t = datetime.datetime(2024, 1, 1)
    first = [
        ("update", 1, 1.5, "{}", t, 5, 1),
        ("update", 1, 9.0, "{}", t, 5, 0),  # the old decode, arriving last
        ("update", 2, 2.5, "{}", t, 6, 1),
    ]
    late = [("update", 2, 8.0, "{}", t, 6, 0)]  # the old decode, a batch later
    src = str(tmp_path / "in")
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(src + "/b1")
    time.sleep(1.1)  # distinct mtimes: the file source orders oldest-first
    spark.createDataFrame(late, schema).coalesce(1).write.parquet(src + "/b2")

    emitted = []
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src + "/*")
    )
    q = (
        streaming_changelog_normalize(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: emitted.extend((bid, r) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [3, 1]
    last = {r["user_id"]: r["value"] for _, r in sorted(emitted, key=lambda e: e[0])}
    want = {
        r["user_id"]: r["value"]
        for r in changelog_normalize(spark.createDataFrame(first + late, schema)).collect()
    }
    assert last == want == {1: 1.5, 2: 2.5}


def test_stream_dedup_exact_cross_batch(spark, sf_dir, tmp_path):
    """First-seen-wins exact dedup across micro-batches: a duplicate
    arriving in a LATER batch is suppressed by the state store."""
    from flink_cdc_connectors_spark.streaming.dedup import stream_dedup_exact

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    # batch 1: originals; batch 2: same texts under new ids (+ one new doc)
    docs.coalesce(1).write.mode("overwrite").json(src + "/b1")
    import time

    time.sleep(1.1)  # distinct mtimes: the file source orders oldest-first
    dupes = docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    fresh = spark.createDataFrame(
        [(99_999, "a genuinely new document body entirely unseen")],
        "doc_id long, text string",
    )
    dupes.unionByName(fresh).coalesce(1).write.mode("overwrite").json(src + "/b2")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src + "/*")
    )
    q = (
        stream_dedup_exact(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    n_in = docs.count()
    assert got.count() == n_in + 1  # originals + the one fresh doc
    assert got.select("text_hash").distinct().count() == n_in + 1
    assert got.filter(F.col("doc_id") == 99_999).count() == 1


def test_stream_dedup_minhash_suppresses_near_dups(spark, sf_dir, tmp_path):
    """Near-dup suppression across batches: a later doc differing only in
    its last word shares all/most shingles, collides in at least one band,
    and is dropped; a genuinely new doc survives."""
    from flink_cdc_connectors_spark.streaming.dedup import (
        materialize_stream_dedup_minhash,
    )

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    words = F.split(F.trim(F.col("text")), r"\s+")
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(words) > 12)
        .select("doc_id", "text")
        .limit(40)
    )
    docs.coalesce(1).write.mode("overwrite").json(src + "/b1")
    import time

    time.sleep(1.1)  # distinct mtimes: the file source orders oldest-first
    near = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.array_join(F.slice(words, 1, F.size(words) - 1), " ").alias("text"),
    )
    near.coalesce(1).write.mode("overwrite").json(src + "/b2")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src + "/*")
    )
    materialize_stream_dedup_minhash(stream, out, ckpt).awaitTermination(300)
    got = spark.read.parquet(out)
    n_in = docs.count()
    kept_ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    # Nearly all originals kept — a small corpus can contain NATURAL
    # near-dup pairs among the originals themselves, and first-seen-wins
    # correctly suppresses the later one (that's the operator working,
    # not a bug), so allow a small margin.
    n_orig_kept = sum(1 for i in kept_ids if i < 10_000)
    assert n_orig_kept >= n_in - 2, f"originals kept: {n_orig_kept}/{n_in}"
    # ...and the bulk of the cross-batch planted near-copies suppressed
    # (LSH recall over 3-gram shingle signatures is high, not exact)
    n_near_kept = sum(1 for i in kept_ids if i >= 10_000)
    assert n_near_kept <= n_in * 0.25, f"near-dups kept: {n_near_kept}/{n_in}"


def test_multi_table_stream_routes_to_per_table_sinks(spark, sf_dir, tmp_path):
    """The multi-table capture job's streaming shape: ONE changelog stream
    carrying two tables fans out inside a single foreachBatch — parse,
    route by (db, table), append each slice to its own sink (the
    reference's one-job-many-tables deployment; TableDiscoveryUtils +
    per-table deserializers). Routing must be lossless per micro-batch
    and each sink must hold exactly its table's rows."""
    import os as _os

    from flink_cdc_connectors_spark.sources.envelope import (
        events_to_debezium_json,
        parse_debezium_json,
        route_tables,
    )
    from flink_cdc_connectors_spark.sources.loaders import load_table

    events = load_table(spark, sf_dir, "events")
    half = events.agg(F.max("event_id")).first()[0] // 2
    raw = events_to_debezium_json(
        events.filter(F.col("event_id") <= half), table="user_1"
    ).unionByName(
        events_to_debezium_json(events.filter(F.col("event_id") > half), table="user_2")
    )
    env_dir = str(tmp_path / "env")
    _os.makedirs(env_dir)
    # several input files -> several micro-batches (maxFilesPerTrigger)
    raw.repartition(4).write.mode("overwrite").text(env_dir)
    n_total = raw.count()

    sink_root = str(tmp_path / "sinks")

    def fan_out_batch(bdf, _bid):
        parsed = parse_debezium_json(bdf.withColumnRenamed("value", "value"))
        for (db, tbl), frame in route_tables(parsed).items():
            frame.write.mode("append").parquet(f"{sink_root}/{db}.{tbl}")

    q = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(env_dir)
        .writeStream.foreachBatch(fan_out_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    t1 = spark.read.parquet(f"{sink_root}/app.user_1")
    t2 = spark.read.parquet(f"{sink_root}/app.user_2")
    # lossless fan-out across ALL micro-batches, each sink pure
    assert t1.count() + t2.count() == n_total
    assert t1.count() > 0 and t2.count() > 0
    assert t1.agg(F.max("event_id")).first()[0] <= half
    assert t2.agg(F.min("event_id")).first()[0] > half
    ids = t1.select("event_id").unionByName(t2.select("event_id"))
    assert ids.count() == ids.distinct().count(), "a row landed in two sinks"
