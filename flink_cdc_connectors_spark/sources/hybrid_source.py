"""Hybrid snapshot+stream CDC source — the incremental-snapshot algorithm.

An executable Spark model of the reference's two-phase source
(flink-connector-mysql-cdc):

  1. *Snapshot phase*: the table is split into key-range chunks
     (MySqlChunkSplitter.java:115-302); each chunk is read between a LOW and
     HIGH watermark and the log window (LOW, HIGH] is upserted into the
     chunk buffer (``upsertBinlog``, RecordUtils.java:77-114;
     SignalEventDispatcher.java:78-112) so every chunk is emitted as a
     point-in-time-consistent set of INSERTs at its own high watermark.
  2. *Stream phase*: one reader tails the log from the MIN high watermark
     (MySqlHybridSplitAssigner.createBinlogSplit:189-227); the ``shouldEmit``
     filter drops events already covered by a chunk's backfill — emit iff
     offset > the HW of the chunk whose key range contains the row's key
     (BinlogSplitReader.java:210-254).

The source's restartable position is an offset JSON mirroring
``HybridPendingSplitsState``: {phase, chunks:[{lo,hi,hw,done}],
stream_offset}. DBLog is the published basis (arXiv:2010.12597, cited at
docs/content/connectors/mysql-cdc.md:552).

The database here is *simulated by the events log itself* (the fixture
binlog): "snapshot of chunk C at offset W" = latest non-delete state per
key in C over events with offset <= W. That makes the consistency
invariant provable: materialize(source output) == normalize(whole log) —
the property the reference's ITCases assert after live DML.

At 100 TB: each chunk is an independent partition-pruned scan (the key
predicate pushes to parquet/JDBC), chunks run in parallel executors, and
the stream phase is one ordered reader — exactly the reference's physical
strategy, with Catalyst planning each chunk read.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cdc_connectors_spark.operators.cdc import changelog_normalize
from flink_cdc_connectors_spark.sources.envelope import changelog_view
from flink_cdc_connectors_spark.sources.offsets import BinlogOffset

# The simulated binlog is a single file; event_id is the position within it
# (matches the envelope generator's source.file/pos).
BINLOG_FILE = "binlog.000001"


def _binlog(pos: int) -> dict:
    """Scalar position -> composite-offset wire dict (BinlogOffset.java
    shape). The fixture's single-file log makes pos the only live
    component; a multi-file/GTID deployment fills the rest and the SAME
    comparison logic (offsets.BinlogOffset) keeps ordering correct."""
    return BinlogOffset.specific(file=BINLOG_FILE, pos=pos).to_dict()


def _pos(d: dict | None, fallback: int) -> int:
    """Composite wire dict -> scalar position (prefer the composite form)."""
    return BinlogOffset.from_dict(d).pos if d else fallback


def rechunk_captured_runs(
    ranges: list[tuple[int, int]], n: int
) -> list[tuple[int, int]]:
    """Re-chunk a captured key set for a full re-snapshot: merge the
    (possibly overlapping/adjacent) captured ranges into contiguous runs,
    then split each run into chunks proportional to its key width (at
    least one per run) — EXACTLY ``min(max(n, number_of_runs),
    total_key_width)`` chunks across the set (a run can never split finer
    than one chunk per key, and every run contributes at least one chunk).

    The invariants the property tests pin: the union of the output chunks
    equals the union of the input ranges EXACTLY (re-chunking must never
    capture a key from a gap between disjoint runs — the silent-widening
    bug of the round-6 convex-hull form — nor lose one), the output
    chunks are disjoint and sorted, and the chunk COUNT is exactly the
    formula above (per-run rounding must not over/undershoot the total —
    quotas are settled by largest-deficit apportionment, not independent
    round())."""
    runs: list[list[int]] = []
    for lo, hi in sorted(ranges):
        if runs and lo <= runs[-1][1]:
            runs[-1][1] = max(runs[-1][1], hi)
        else:
            runs.append([lo, hi])
    # a zero-width run [lo, lo) captures no key: drop it before
    # apportionment — it must neither divide the quota denominator to
    # zero (all-zero-width input) nor emit an empty (lo, lo) chunk that
    # would violate the hi > lo invariant (ADVICE r8)
    runs = [r for r in runs if r[1] > r[0]]
    if not runs:
        return []
    widths = [hi - lo for lo, hi in runs]
    span = sum(widths)
    target = min(max(n, len(runs)), span)
    ks = [1] * len(runs)
    quota = [target * w / span for w in widths]
    for _ in range(target - len(runs)):
        # deterministic largest-deficit apportionment, capped at run width
        i = max(
            (i for i in range(len(runs)) if ks[i] < widths[i]),
            key=lambda i: (quota[i] - ks[i], widths[i], -i),
        )
        ks[i] += 1
    out: list[tuple[int, int]] = []
    for (lo, hi), w, k in zip(runs, widths, ks):
        bounds = [lo + w * i // k for i in range(k)] + [hi]
        out.extend((bounds[i], bounds[i + 1]) for i in range(k))
    return out


@dataclass
class ChunkState:
    """One snapshot split (SnapshotSplit + its high watermark)."""

    lo: int  # key range [lo, hi)
    hi: int
    hw: int = -1  # high watermark offset once read (-1 = pending)
    done: bool = False


@dataclass
class HybridSourceState:
    """The restartable offset (HybridPendingSplitsState analog).

    The wire form carries every position BOTH as the scalar event_id and as
    the composite BinlogOffset dict (kind/gtids/server_id/ts/file/pos/
    skips — BinlogOffset.java:173-255); restore prefers the composite form,
    so a checkpoint taken against a real multi-component log (GTID sets,
    rotated files) restores through the same code path."""

    phase: str = "snapshot"  # snapshot -> stream
    chunks: list[ChunkState] = field(default_factory=list)
    stream_offset: int = -1

    def to_json(self) -> str:
        return json.dumps(
            {
                "phase": self.phase,
                "chunks": [
                    {**vars(c), "hw_binlog": _binlog(c.hw) if c.hw >= 0 else None}
                    for c in self.chunks
                ],
                "stream_offset": self.stream_offset,
                "stream_offset_binlog": (
                    _binlog(self.stream_offset) if self.stream_offset >= 0 else None
                ),
            }
        )

    @classmethod
    def from_json(cls, s: str) -> "HybridSourceState":
        d = json.loads(s)
        chunks = []
        for c in d["chunks"]:
            hw_binlog = c.pop("hw_binlog", None)
            chunks.append(ChunkState(**{**c, "hw": _pos(hw_binlog, c["hw"])}))
        return cls(
            phase=d["phase"],
            chunks=chunks,
            stream_offset=_pos(d.get("stream_offset_binlog"), d["stream_offset"]),
        )


class HybridCdcSource:
    """Two-phase chunked-snapshot source over a simulated binlog.

    ``events``: the fixture changelog DataFrame (op/user_id/value/props/
    ts/event_id via ``changelog_view``).  ``watermarks``: offset at which
    each chunk's snapshot is taken (simulates DML happening while earlier
    chunks were read — the condition DBLog exists to handle). If omitted,
    all chunks snapshot at the max offset.
    """

    def __init__(
        self,
        spark: SparkSession,
        events: DataFrame,
        num_chunks: int = 4,
        key: str = "user_id",
        watermarks: list[int] | None = None,
        key_range: tuple[int, int] | None = None,
    ) -> None:
        """``key_range``: half-open [lo, hi) captured initially — a subset
        models 'only some tables captured'; ``add_key_range`` extends the
        capture mid-stream (newly-added-tables flow)."""
        self.spark = spark
        self.log = changelog_view(events) if "op" not in events.columns else events
        self.key = key
        lo, hi, max_off = self.log.agg(
            F.min(key), F.max(key), F.max("event_id")
        ).first()
        if key_range is not None:
            lo, hi = key_range[0], key_range[1] - 1
        # even key-range chunks, [lo, hi+1) half-open (MySqlChunkSplitter
        # fast path: fixed key width, no per-chunk boundary queries)
        step = max((hi - lo + 1 + num_chunks - 1) // num_chunks, 1)
        bounds = [lo + i * step for i in range(num_chunks)] + [hi + 1]
        self.state = HybridSourceState(
            chunks=[
                ChunkState(lo=bounds[i], hi=bounds[i + 1]) for i in range(num_chunks)
            ]
        )
        if watermarks is None:
            watermarks = [max_off] * num_chunks
        assert len(watermarks) == num_chunks
        self._watermarks = watermarks
        self.max_offset = max_off

    # -- snapshot phase ----------------------------------------------------

    def _chunk_snapshot(self, chunk: ChunkState, hw: int) -> DataFrame:
        """Point-in-time-consistent chunk at offset ``hw``.

        Equivalent to: select chunk at LOW watermark, then upsert the log
        window (LOW, HIGH] into the buffer (``upsertBinlog``) — algebraically
        normalize(log restricted to chunk range, offset <= HIGH). The key
        range predicate pushes down to the scan, as the reference's per-split
        WHERE clause does (StatementUtils.buildSplitScanQuery:132-225).
        """
        in_range = (F.col(self.key) >= chunk.lo) & (F.col(self.key) < chunk.hi)
        window = self.log.filter(in_range & (F.col("event_id") <= hw))
        return changelog_normalize(window, key_cols=[self.key])

    def next_snapshot_batch(self) -> DataFrame | None:
        """Read the next pending chunk; returns its consistent row set
        (all emitted as INSERTs, like the reference's normalized splits)."""
        for i, chunk in enumerate(self.state.chunks):
            if not chunk.done:
                hw = self._watermarks[i]
                out = self._chunk_snapshot(chunk, hw)
                chunk.hw = hw
                chunk.done = True
                if all(c.done for c in self.state.chunks):
                    self.state.phase = "stream"
                    # stream starts at the MIN high watermark
                    self.state.stream_offset = min(c.hw for c in self.state.chunks)
                return out.withColumn("op", F.lit("insert"))
        return None

    # -- stream phase ------------------------------------------------------

    def stream_batch(self, to_offset: int | None = None) -> DataFrame:
        """Tail the log from the current stream offset, applying
        ``shouldEmit``: emit iff the event's offset is past the HW of the
        chunk containing its key (drops backfill duplicates)."""
        assert self.state.phase == "stream", "snapshot phase not finished"
        to_offset = self.max_offset if to_offset is None else to_offset
        cw = F.broadcast(
            self.spark.createDataFrame(
                [(c.lo, c.hi, c.hw) for c in self.state.chunks],
                "chunk_lo long, chunk_hi long, hw long",
            )
        )
        cond = (
            (F.col(self.key) >= cw["chunk_lo"])
            & (F.col(self.key) < cw["chunk_hi"])
            & (F.col("event_id") > cw["hw"])
        )
        batch = (
            self.log.filter(
                (F.col("event_id") > self.state.stream_offset)
                & (F.col("event_id") <= to_offset)
            )
            .join(cw, cond, "inner")
            .drop("chunk_lo", "chunk_hi", "hw")
        )
        self.state.stream_offset = to_offset
        return batch

    # -- newly-added tables (key spaces) ----------------------------------

    def add_key_range(self, lo: int, hi: int, num_chunks: int = 2) -> list[DataFrame]:
        """Capture a newly-added key range mid-stream — the reference's
        newly-added-tables flow (MySqlSourceReader.java:84,147-240,
        BinlogSplitUpdateRequest/Ack protocol, NewlyAddedTableITCase):
        the stream reader *suspends*, the new range gets snapshot splits
        read at the current offset, and the stream resumes with the updated
        split/watermark metadata so shouldEmit covers the new chunks.

        Here the "new table" is a key range not previously captured (the
        simulation is single-table; a multi-table deployment keys chunks by
        (table, range) — same state machine). Returns the backfill batches.
        """
        assert self.state.phase == "stream", "add ranges during stream phase"
        # stream suspends at its current offset; new chunks snapshot there
        suspend_at = self.state.stream_offset
        step = max((hi - lo + num_chunks - 1) // num_chunks, 1)
        new_chunks = [
            ChunkState(lo=lo + i * step, hi=min(lo + (i + 1) * step, hi))
            for i in range(num_chunks)
            if lo + i * step < hi
        ]
        batches = []
        for chunk in new_chunks:
            batches.append(
                self._chunk_snapshot(chunk, suspend_at).withColumn(
                    "op", F.lit("insert")
                )
            )
            chunk.hw = suspend_at
            chunk.done = True
        # resume: the stream's emit filter now includes the new chunks
        self.state.chunks.extend(new_chunks)
        return batches

    # -- type-change re-snapshot -------------------------------------------

    def resnapshot(self, num_chunks: int | None = None) -> list[DataFrame]:
        """Full re-snapshot at the current stream offset — what a COLUMN
        TYPE CHANGE forces (SchemaHistory.type_change_offsets): row images
        decoded under the old type cannot be conformed by projection, so
        the capture re-reads the table, exactly as the reference does.
        Same suspend/backfill/resume machinery as ``add_key_range``
        (MySqlSourceReader.java:147-240, BinlogSplitUpdateRequest/Ack),
        but REPLACING the chunk metadata instead of extending it: the
        stream reader suspends at its offset, the whole captured key space
        is re-chunked and snapshot at that offset (each chunk decoding
        under the NEW schema), and the stream resumes with the new
        watermarks so shouldEmit drops everything the re-snapshot already
        covered. State built before the boundary is discarded by the
        consumer — it is the old-type image.

        Returns the re-snapshot chunk batches (consistent INSERT sets at
        the suspend offset)."""
        assert self.state.phase == "stream", "re-snapshot happens mid-stream"
        suspend_at = self.state.stream_offset
        # Re-chunk each contiguous CAPTURED range separately — never the
        # convex hull [min lo, max hi): after add_key_range added a
        # DISJOINT range, the hull would include the never-captured gap,
        # and the REPLACED chunk metadata would make the resumed stream
        # emit gap keys permanently (a silent widening of the capture set).
        n = num_chunks or len(self.state.chunks)
        new_chunks = [
            ChunkState(lo=lo, hi=hi)
            for lo, hi in rechunk_captured_runs(
                [(c.lo, c.hi) for c in self.state.chunks], n
            )
        ]
        batches = []
        for chunk in new_chunks:
            batches.append(
                self._chunk_snapshot(chunk, suspend_at).withColumn(
                    "op", F.lit("insert")
                )
            )
            chunk.hw = suspend_at
            chunk.done = True
        self.state.chunks = new_chunks  # REPLACE: the old image is dead
        return batches

    # -- end-to-end --------------------------------------------------------

    def read_all(self) -> DataFrame:
        """Drain snapshot + stream and materialize the final state —
        the full two-phase protocol in one call (for tests/batch parity).

        The chunks ``next_snapshot_batch`` would still read are built as
        ONE pass: a single filter keeps, per pending chunk, the log window
        up to that chunk's high watermark (chunks are disjoint key
        ranges, so one normalize over the windows equals the union of the
        per-chunk normalizes), then the stream batch is unioned in and
        normalized once. Chunk, phase and stream-offset state advance
        exactly as the chunk-at-a-time reads would advance them."""
        pending = [
            (c, hw) for c, hw in zip(self.state.chunks, self._watermarks) if not c.done
        ]
        union = None
        if pending:
            k = f"`{self.key}`"
            windows = " ".join(
                f"WHEN {k} >= {c.lo} AND {k} < {c.hi} THEN event_id <= {hw}"
                for c, hw in pending
            )
            snapshot = self.log.filter(f"CASE {windows} ELSE FALSE END")
            union = changelog_normalize(snapshot, key_cols=[self.key]).withColumn(
                "op", F.lit("insert")
            )
            for c, hw in pending:
                c.hw, c.done = hw, True
            self.state.phase = "stream"
            self.state.stream_offset = min(c.hw for c in self.state.chunks)
        stream = self.stream_batch()
        union = stream if union is None else union.unionByName(stream)
        return changelog_normalize(union, key_cols=[self.key])
