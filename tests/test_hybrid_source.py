"""Hybrid source protocol tests — the DBLog consistency invariant.

The reference's guarantee (docs/content/connectors/mysql-cdc.md:437-465):
parallel lock-free chunked snapshot + log tail = exactly the table's true
state. Modeled here: chunks snapshot at DIFFERENT watermarks (simulating
DML during the snapshot phase), the stream phase applies shouldEmit, and
the materialized union must equal normalize(whole log) — the property
every reference ITCase asserts after live DML.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_cdc_connectors_spark.operators.cdc import changelog_normalize
from flink_cdc_connectors_spark.sources.envelope import changelog_view
from flink_cdc_connectors_spark.sources.hybrid_source import (
    HybridCdcSource,
    HybridSourceState,
)
from flink_cdc_connectors_spark.sources.loaders import load_table


def _expected(spark, sf_dir):
    cl = changelog_view(load_table(spark, sf_dir, "events"))
    return (
        changelog_normalize(cl)
        .select("user_id", "event_id", F.round("value", 2).alias("v"))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )


def _got(src):
    return (
        src.read_all()
        .select("user_id", "event_id", F.round("value", 2).alias("v"))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("staggered", [False, True])
def test_hybrid_source_consistency(spark, sf_dir, staggered):
    events = load_table(spark, sf_dir, "events")
    max_off = events.agg(F.max("event_id")).first()[0]
    # staggered: each chunk snapshots at a different offset — the DBLog
    # scenario (writes land while earlier chunks are already read)
    wms = (
        [max_off // 4, max_off // 3, max_off // 2, (3 * max_off) // 4]
        if staggered
        else None
    )
    src = HybridCdcSource(spark, events, num_chunks=4, watermarks=wms)
    got, want = _got(src), _expected(spark, sf_dir)
    assert len(got) == len(want) > 0
    assert (got["user_id"] == want["user_id"]).all()
    assert (got["event_id"] == want["event_id"]).all()
    assert (got["v"] - want["v"]).abs().max() < 1e-9


def test_hybrid_source_phases_and_offset_state(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    src = HybridCdcSource(spark, events, num_chunks=3)
    assert src.state.phase == "snapshot"
    n_batches = 0
    while src.next_snapshot_batch() is not None:
        n_batches += 1
    assert n_batches == 3
    assert src.state.phase == "stream"
    assert src.state.stream_offset == min(c.hw for c in src.state.chunks)
    # offset JSON round-trips (the checkpointable position)
    s2 = HybridSourceState.from_json(src.state.to_json())
    assert s2.phase == "stream"
    assert [vars(c) for c in s2.chunks] == [vars(c) for c in src.state.chunks]


def test_stream_batch_emits_nothing_when_chunks_cover_log(spark, sf_dir):
    """All chunks snapshot at max offset -> the backfill already covered
    every event; shouldEmit must drop everything (no double reads)."""
    events = load_table(spark, sf_dir, "events")
    src = HybridCdcSource(spark, events, num_chunks=2)
    while src.next_snapshot_batch() is not None:
        pass
    assert src.stream_batch().count() == 0


def test_newly_added_key_range_mid_stream(spark, sf_dir):
    """The newly-added-tables flow (NewlyAddedTableITCase analog): capture
    half the key space, enter the stream phase, tail part of the log, then
    add the other half mid-stream (suspend -> snapshot backfill -> resume).
    Final materialized state must equal normalize(whole log) over BOTH
    ranges — no gaps, no double reads."""
    events = load_table(spark, sf_dir, "events")
    key_mid = events.agg(F.max("user_id")).first()[0] // 2 + 1
    key_max = events.agg(F.max("user_id")).first()[0] + 1
    max_off = events.agg(F.max("event_id")).first()[0]

    src = HybridCdcSource(
        spark, events, num_chunks=2,
        watermarks=[max_off // 3, max_off // 2],
        key_range=(0, key_mid),
    )
    parts = []
    while (b := src.next_snapshot_batch()) is not None:
        parts.append(b)
    # tail some of the log for the initial range...
    parts.append(src.stream_batch(to_offset=(2 * max_off) // 3))
    # ...then the "new table" (rest of the key space) is added mid-stream
    parts.extend(src.add_key_range(key_mid, key_max, num_chunks=2))
    # ...and the stream resumes, now covering both ranges
    parts.append(src.stream_batch())

    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    got = (
        changelog_normalize(union)
        .select("user_id", "event_id")
        .toPandas().sort_values("user_id").reset_index(drop=True)
    )
    want = _expected(spark, sf_dir)[["user_id", "event_id"]]
    assert len(got) == len(want) > 0
    assert (got["user_id"] == want["user_id"]).all()
    assert (got["event_id"] == want["event_id"]).all()


def test_savepoint_restore_mid_protocol(spark, sf_dir):
    """Checkpoint/restore across a 'restart': drain the snapshot phase and
    part of the stream, serialize the offset state (the
    HybridPendingSplitsState JSON), build a FRESH source, restore the
    state into it, and finish streaming there. The union of everything the
    two incarnations emitted must equal normalize(whole log) — the
    reference's savepoint-upgrade contract (MySqlSourceEnumerator
    checkpoint/restore; savepoint paths in tools/)."""
    e = load_table(spark, sf_dir, "events")
    lo, hi = e.agg(F.min("event_id"), F.max("event_id")).first()
    stagger = [int(lo + (hi - lo) * f) for f in (0.4, 0.45, 0.5, 0.55)]
    mid = int(lo + (hi - lo) * 0.7)

    src1 = HybridCdcSource(spark, e, num_chunks=4, watermarks=stagger)
    parts = []
    while (b := src1.next_snapshot_batch()) is not None:
        parts.append(b)
    parts.append(src1.stream_batch(to_offset=mid))
    wire = src1.state.to_json()  # <- the checkpoint

    src2 = HybridCdcSource(spark, e, num_chunks=4, watermarks=stagger)
    src2.state = HybridSourceState.from_json(wire)  # <- the restore
    assert src2.state.phase == "stream"
    assert src2.state.stream_offset == mid
    assert [c.hw for c in src2.state.chunks] == stagger
    parts.append(src2.stream_batch())  # finish on the new incarnation

    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    got = (
        changelog_normalize(union, key_cols=["user_id"])
        .select("user_id", "event_id", F.round("value", 2).alias("v"))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    expected = _expected(spark, sf_dir)
    assert got.equals(expected)


def test_type_change_resnapshot_mid_stream(spark, sf_dir):
    """A column type change forces a FULL re-snapshot mid-stream
    (SchemaHistory.type_change_offsets -> HybridCdcSource.resnapshot):
    the stream suspends at its offset, the whole key space re-chunks and
    snapshots THERE, chunk metadata is REPLACED, and the resumed stream's
    shouldEmit drops everything the re-snapshot covered. Discarding the
    pre-boundary state and materializing only (re-snapshot + resumed
    stream) must equal normalize(whole log) — the stitched end state."""
    events = load_table(spark, sf_dir, "events")
    max_off = events.agg(F.max("event_id")).first()[0]
    boundary = (99 * max_off) // 100  # late: some keys must KEEP the re-snapshot image

    src = HybridCdcSource(
        spark, events, num_chunks=3, watermarks=[max_off // 3] * 3
    )
    pre = []
    while (b := src.next_snapshot_batch()) is not None:
        pre.append(b)  # the old-type image — discarded at the boundary
    pre.append(src.stream_batch(to_offset=boundary))

    parts = src.resnapshot(num_chunks=4)  # type change fires here
    assert len(src.state.chunks) == 4, "chunk metadata must be REPLACED"
    assert all(c.hw == boundary for c in src.state.chunks)
    parts.append(src.stream_batch())  # resume to the log end

    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    got = (
        changelog_normalize(union)
        .select("user_id", "event_id")
        .toPandas().sort_values("user_id").reset_index(drop=True)
    )
    want = _expected(spark, sf_dir)[["user_id", "event_id"]]
    assert len(got) == len(want) > 0
    assert (got["user_id"] == want["user_id"]).all()
    assert (got["event_id"] == want["event_id"]).all()
    # non-vacuity: the resumed stream contributed rows (the re-snapshot
    # alone does not cover the tail)...
    tail = parts[-1]
    assert tail.count() > 0
    # ...and some keys' FINAL image came from the re-snapshot itself
    resnap_only = changelog_normalize(union).filter(
        F.col("event_id") <= boundary
    )
    assert resnap_only.count() > 0


def test_type_change_resnapshot_key_epochs(spark, sf_dir):
    """The driver-checked key exercises all three epochs at every fixture
    scale: keys whose final image is the re-snapshot, keys overwritten by
    the resumed stream, and v1 keys deleted after the boundary."""
    from flink_cdc_connectors_spark.queries.tier_a_ext2 import (
        cdc_type_change_resnapshot,
    )

    out = cdc_type_change_resnapshot(spark, sf_dir).toPandas()
    epochs = set(out["epoch"])
    assert epochs == {"resnapshot", "stream", "deleted"}
    # the v1 image is retained at the OLD precision for pre-boundary keys:
    # the (10,0) decode dropped the cents...
    v1 = out[out["value_v1"].notna()]
    assert len(v1) > 0
    assert (v1["value_v1"].round(0) == v1["value_v1"]).all(), (
        "v1 image must carry the (10,0) decode"
    )
    # ...and the re-snapshot's re-read RECOVERED them: some key whose
    # final image is the re-snapshot has a non-integer end state
    rs = out[(out["epoch"] == "resnapshot") & out["value_final"].notna()]
    assert len(rs) > 0
    assert (rs["value_final"].round(0) != rs["value_final"]).any(), (
        "the re-snapshot must recover precision the v1 decode lost"
    )
    # deleted keys have no final image
    dead = out[out["epoch"] == "deleted"]
    assert dead["value_final"].isna().all() and dead["last_event_id"].isna().all()

def test_resnapshot_after_disjoint_add_does_not_widen_capture(spark, sf_dir):
    """A re-snapshot after add_key_range added a DISJOINT range must
    re-chunk each contiguous captured range separately — never the convex
    hull of all chunks: the hull includes the never-captured gap, so the
    re-snapshot would emit gap keys and the REPLACED chunk metadata would
    make the resumed stream capture them permanently (a silent widening
    of the capture set)."""
    events = load_table(spark, sf_dir, "events")
    key_max = events.agg(F.max("user_id")).first()[0] + 1
    max_off = events.agg(F.max("event_id")).first()[0]
    # captured: [0, q1) and [q3, key_max) — the gap [q1, q3) is never added
    q1, q3 = key_max // 4, (3 * key_max) // 4

    src = HybridCdcSource(
        spark, events, num_chunks=2,
        watermarks=[max_off // 3] * 2, key_range=(0, q1),
    )
    while src.next_snapshot_batch() is not None:
        pass
    src.stream_batch(to_offset=max_off // 2)
    backfill = src.add_key_range(q3, key_max, num_chunks=2)
    src.stream_batch(to_offset=(2 * max_off) // 3)

    parts = src.resnapshot()  # type change fires here
    # chunk metadata covers exactly the captured runs — no chunk touches
    # the gap
    for c in src.state.chunks:
        assert c.hi <= q1 or c.lo >= q3, f"chunk [{c.lo},{c.hi}) spans the gap"
    covered = {
        k for c in src.state.chunks for k in range(c.lo, c.hi)
    }
    want = set(range(0, q1)) | set(range(q3, key_max))
    assert covered == want, "re-chunk lost or widened the captured key set"
    # neither the re-snapshot batches nor the resumed stream emit gap keys
    union = parts[0]
    for p in parts[1:] + [src.stream_batch()] + backfill:
        union = union.unionByName(p)
    gap = union.filter((F.col("user_id") >= q1) & (F.col("user_id") < q3))
    assert gap.count() == 0, "re-snapshot captured keys from the gap"
    # and the captured ranges are still complete: stitched state over the
    # captured set equals the whole-log normalize restricted to it
    got = (
        changelog_normalize(union)
        .select("user_id", "event_id")
        .toPandas().sort_values("user_id").reset_index(drop=True)
    )
    exp = _expected(spark, sf_dir)
    exp = exp[(exp["user_id"] < q1) | (exp["user_id"] >= q3)][
        ["user_id", "event_id"]
    ].reset_index(drop=True)
    assert len(got) == len(exp) > 0
    assert (got["user_id"].values == exp["user_id"].values).all()


def _per_chunk_read_all(src):
    """The chunk-at-a-time drain: every pending chunk through
    ``next_snapshot_batch``, the stream batch, one union, one normalize."""
    parts = []
    while (b := src.next_snapshot_batch()) is not None:
        parts.append(b)
    parts.append(src.stream_batch())
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return changelog_normalize(union, key_cols=[src.key])


@pytest.mark.parametrize("case", ["uniform", "staggered", "one_chunk_read_first"])
def test_read_all_equals_per_chunk_composition(spark, sf_dir, case):
    """``read_all`` builds the pending chunks as one filtered pass; its
    rows and its final offset state must equal the chunk-at-a-time
    composition, including after a chunk was already read on its own."""
    events = load_table(spark, sf_dir, "events")
    max_off = events.agg(F.max("event_id")).first()[0]
    wms = (
        None
        if case == "uniform"
        else [max_off // 4, max_off // 3, max_off // 2, (3 * max_off) // 4]
    )
    one, two = (HybridCdcSource(spark, events, num_chunks=4, watermarks=wms) for _ in range(2))
    if case == "one_chunk_read_first":
        one.next_snapshot_batch()
        two.next_snapshot_batch()
    got, want = one.read_all(), _per_chunk_read_all(two)
    assert one.state.to_json() == two.state.to_json()
    assert got.columns == want.columns
    n = want.count()
    assert n > 0 and got.count() == n
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
