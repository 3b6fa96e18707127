"""`cdc_binlog` — a PySpark DataSource V2 streaming source for changelogs.

The real thing SURVEY §7 step 5 calls for: `spark.readStream
.format("cdc_binlog").load()` backed by the two-phase incremental-snapshot
protocol, on Spark 4's Python DataSource API:

  - micro-batch 1 = the SNAPSHOT phase: every key-range chunk becomes an
    ``InputPartition`` read in parallel by executors — the reference's
    parallel lock-free snapshot (MySqlSnapshotSplitReadTask; chunks from
    MySqlChunkSplitter), each chunk normalized to its consistent state at
    the snapshot high watermark;
  - subsequent micro-batches = the STREAM phase: one ordered reader tails
    the log past the watermark (BinlogSplitReader), emitting raw change
    events;
  - the offset is a JSON dict {phase, hw, off} mirroring
    ``HybridPendingSplitsState`` — checkpointable, resumable.

The "database" is a parquet changelog file (the simulated binlog fixture).
A real deployment swaps ``_read_slice`` for a JDBC chunk select + a log
tailer; the protocol, offsets, and partition planning stay identical.

Executor-side reads return Arrow RecordBatches (zero row-by-row Python
cost). Downstream, ``materialize_latest_state`` or ``changelog_normalize``
consume the stream exactly as they consume the file-based envelope stream.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from flink_cdc_connectors_spark.operators.cdc import offset_order
from flink_cdc_connectors_spark.sources.envelope import op_sql
from flink_cdc_connectors_spark.sources.offsets import BinlogOffset
from flink_cdc_connectors_spark.sources.schema_history import SchemaHistory

# Version stamp of the DSv2 offset/checkpoint JSON (the reference versions
# its split & pending-splits-state serializers and asserts savepoint
# restore across releases — MySqlCompatibilityITCase.java, tools/).
# v0 = unversioned round-3 documents (migrated on restore); v1 adds the
# stamp itself; v2 adds "dlv" — the delivered watermark (the highest
# position any COMMITTED batch has covered, as known when the document
# was planned); v3 adds "cap" — the captured key ranges [[lo, hi, hw],
# ...] when the source is configured with explicit keyRanges (absent
# otherwise), the HybridPendingSplitsState capture-set analog that lets a
# RESTART with a widened range list detect and backfill newly-added
# tables. Bump on ANY field change and extend _migrate_offset.
OFFSET_FORMAT_VERSION = 3

SCHEMA_DDL = (
    "op string, user_id bigint, value double, props string, "
    "ts timestamp, event_id bigint"
)

# Default captured-table schema when no schema history is supplied.
_DEFAULT_PAYLOAD = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _payload_schema_from_options(options: dict) -> T.StructType:
    """The FINAL (latest-version) payload schema the query is pinned to.

    With a schema history, that is the schema at the end of the log — the
    reference pins the produced type at query planning and conforms older
    splits to it (SnapshotSplit.tableSchemas; FlinkDatabaseHistory.java).
    """
    hist_json = options.get("schemahistoryjson")
    if not hist_json:
        return _DEFAULT_PAYLOAD
    h = SchemaHistory.from_json(hist_json)
    db = options.get("database", "app")
    tb = options.get("table", "events")
    st = h.schema_at(db, tb, 1 << 62)
    if st is None:
        raise ValueError(f"schema history has no versions for ({db}, {tb})")
    return st


def _type_change_offsets_from_options(options: dict) -> list:
    """Type-change boundaries declared by the schema history (if any).

    A non-empty list means the source will re-snapshot mid-stream and rows
    from two decode epochs can carry the SAME (ts, event_id) — so the
    source also emits a ``schema_epoch`` column that orders them (see
    ``CdcBinlogStreamReader._epoch_at``)."""
    hist_json = options.get("schemahistoryjson")
    if not hist_json:
        return []
    h = SchemaHistory.from_json(hist_json)
    return h.type_change_offsets(
        options.get("database", "app"), options.get("table", "events")
    )


def _duck_type(dt: T.DataType) -> str:
    """Spark type -> DuckDB SQL type (for typed NULL projection)."""
    for cls, name in (
        (T.LongType, "BIGINT"),
        (T.IntegerType, "INTEGER"),
        (T.ShortType, "SMALLINT"),
        (T.ByteType, "TINYINT"),
        (T.DoubleType, "DOUBLE"),
        (T.FloatType, "FLOAT"),
        (T.BooleanType, "BOOLEAN"),
        (T.DateType, "DATE"),
        (T.TimestampType, "TIMESTAMP"),
    ):
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    return "VARCHAR"

_OP_SQL = op_sql()


@dataclass
class ChunkPartition(InputPartition):
    """Snapshot split: consistent chunk state at the high watermark.

    ``payload_select``: the per-split decode projection — this split's
    events are deserialized against the schema current at its offset
    (SnapshotSplit.tableSchemas analog); empty = default fixture payload.
    ``epoch``: the schema epoch this split decodes under (None = the
    history has no type changes and the source emits no epoch column).
    """

    path: str
    key_lo: int
    key_hi: int
    hw: int
    payload_select: str = "user_id, value, props"
    epoch: int | None = None


@dataclass
class StreamPartition(InputPartition):
    """Log range (from_off, to_off] — the single ordered stream reader.

    ``chunk_hws``: [(key_lo, key_hi, hw)] — the finished-split metadata the
    reference ships to its binlog reader (FinishedSnapshotSplitInfo);
    ``shouldEmit`` = emit iff the event's offset is past the HW of the
    chunk containing its key (BinlogSplitReader.java:210-254).
    ``payload_select``: per-range decode projection (ranges never span a
    DDL offset — partitions() splits them, FlinkDatabaseHistory analog).
    ``epoch``: schema epoch of the decode (None = no epoch column).
    ``emit_uncovered``: emit events whose key falls OUTSIDE every chunk
    range. True in whole-space capture (a key first seen after planning —
    a growing log — was never backfilled, so there is nothing to dedup
    and the reference's binlog reader emits it: BinlogSplitReader
    shouldEmit's pure-binlog arm); False with explicit keyRanges, where
    an uncovered key means an UNCAPTURED table."""

    path: str
    from_off: int
    to_off: int
    chunk_hws: tuple = ()
    payload_select: str = "user_id, value, props"
    epoch: int | None = None
    emit_uncovered: bool = False


def _duck(path: str, sql: str):
    import duckdb
    import os

    # Real datasets are DIRECTORIES of part files (every engine's writer
    # emits them that way); a single .parquet file is the small-fixture
    # special case. Glob directories so the source reads both shapes.
    src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
    con = duckdb.connect()
    con.execute(f"CREATE VIEW log AS SELECT * FROM '{src}'")
    return con.execute(sql)


class CdcBinlogStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("cdc_binlog requires option 'path'")
        self.num_chunks = int(options.get("numchunks", 4))
        # snapshot watermark: fraction of the log covered by the snapshot
        # phase (1.0 = everything; lower values leave a stream tail)
        frac = float(options.get("snapshotfraction", 1.0))
        # staggerChunks simulates DML landing while earlier chunks were
        # read: chunk i snapshots at a LOWER offset than chunk i+1, so the
        # stream phase must apply the per-chunk shouldEmit filter — full
        # DBLog fidelity rather than a single global watermark.
        self.stagger = str(options.get("staggerchunks", "false")).lower() == "true"
        key_lo, key_hi, max_off = _duck(
            self.path, "SELECT min(user_id), max(user_id), max(event_id) FROM log"
        ).fetchone()
        self.key_lo, self.key_hi = int(key_lo), int(key_hi) + 1
        self.max_off = int(max_off)
        self.hw = int(max_off * frac)
        # Explicit capture set (newly-added-tables protocol): keyRanges =
        # JSON [[lo, hi], ...] of half-open captured key ranges — each
        # range models one regex-matched TABLE of the reference (the
        # fixture is single-table, so 'table' = key range; a multi-table
        # deployment keys ranges by (table, lo, hi) — same state machine).
        # When configured, offset documents carry the capture set ("cap"),
        # and a RESTART whose configured list contains a range the
        # checkpoint never captured triggers the suspend/backfill/resume
        # flow (MySqlSourceReader.java:147-240, BinlogSplitUpdateRequest/
        # Ack, NewlyAddedTableITCase.java). Absent = legacy whole-space
        # capture, documents unchanged.
        kr = options.get("keyranges")
        if kr:
            import json as _json

            ranges = sorted((int(lo), int(hi)) for lo, hi in _json.loads(kr))
            if any(hi <= lo for lo, hi in ranges):
                raise ValueError(f"keyRanges entries must satisfy lo < hi: {ranges}")
            if any(b[0] < a[1] for a, b in zip(ranges, ranges[1:])):
                raise ValueError(f"keyRanges must be disjoint: {ranges}")
            if self.stagger:
                raise ValueError(
                    "staggerChunks applies to the legacy whole-space capture; "
                    "with keyRanges each range snapshots at one watermark"
                )
            self.key_ranges: list[tuple[int, int]] | None = ranges
        else:
            self.key_ranges = None
        # scan.newly-added-table.enabled gate (MySqlSourceOptions.java:
        # 232-238): with the flag OFF, a restart whose configured keyRanges
        # contain a range the checkpoint never captured does NOT backfill
        # it — the reference only discovers newly regex-matched tables at
        # restore when the flag is set; without it the new table stays
        # uncaptured (its events are dropped at the emit filter, exactly
        # like any other uncaptured table). Default FALSE, matching the
        # reference's scan.newly-added-table.enabled default at BOTH
        # layers (ADVICE r8 — previously the raw DSv2 layer defaulted
        # true and only the DDL binding matched the reference); backfill
        # is an explicit .option("newlyAddedTables", "true") opt-in.
        self.newly_added_enabled = (
            str(options.get("newlyaddedtables", "false")).lower() == "true"
        )
        # Offset-versioned schemas (FlinkDatabaseHistory / SnapshotSplit.
        # tableSchemas analog): every split decodes against the schema in
        # force at its offset; the query output is pinned to the LATEST
        # schema and older splits are conformed with typed NULLs.
        self.db = options.get("database", "app")
        self.table = options.get("table", "events")
        hist_json = options.get("schemahistoryjson")
        self.history = SchemaHistory.from_json(hist_json) if hist_json else None
        self.final_schema = _payload_schema_from_options(options)
        self.ddl_offsets = (
            self.history.version_offsets(self.db, self.table) if self.history else []
        )
        # Column TYPE changes are re-snapshot boundaries, not decode cuts:
        # projection cannot conform a row image decoded under the old type,
        # so the stream range that crosses one plans chunk partitions AT
        # the boundary (re-reading the table under the new schema) before
        # continuing the tail — the streaming form of
        # HybridCdcSource.resnapshot (MySqlSourceReader.java:147-240).
        self.type_change_offsets = (
            self.history.type_change_offsets(self.db, self.table)
            if self.history
            else []
        )
        cur = _duck(self.path, "SELECT * FROM log LIMIT 0")
        self.physical_cols = {d[0] for d in cur.description}
        # Startup modes (StartupMode.java:24-33): 'initial' = snapshot +
        # stream; 'earliest-offset' = whole log, no snapshot; 'latest-offset'
        # = only new changes; 'specific-offset'/'timestamp' = log from a
        # position. Non-initial modes skip the snapshot phase entirely.
        # Rate limit (Debezium max.batch.size / Kafka maxOffsetsPerTrigger
        # analog): cap how far the stream-phase offset advances per
        # micro-batch, so a long tail drains as genuine INCREMENTS — the
        # shape foreachBatch index-maintenance consumers see in production
        # (without it, a static fixture's whole tail lands in one batch).
        mob = options.get("maxoffsetsperbatch")
        self.max_per_batch = int(mob) if mob is not None else None
        # refreshLatest: re-poll the log end on every latestOffset() call —
        # genuine log TAILING of a growing changelog (a capture pump keeps
        # appending part files) rather than a one-shot drain of a static
        # fixture. This is how the reference's binlog client behaves: the
        # readable position advances as the server writes.
        self.refresh_latest = (
            str(options.get("refreshlatest", "false")).lower() == "true"
        )
        self._planned_off: int | None = None  # driver-side planning cursor
        # Delivered watermark: the highest position this reader KNOWS a
        # committed batch has covered. Learned only from committed
        # evidence — commit(end) calls, and the start/dlv fields of the
        # checkpoint documents Spark hands to partitions() (a batch's
        # START is always the previous batch's committed end; a document's
        # "dlv" stamp was itself derived from committed knowledge when
        # planned). Spark's Python streaming API gives latestOffset() no
        # view of the restored position, so after a restart the planning
        # cursor can momentarily sit BEHIND the checkpoint — the reference
        # never has this problem because its enumerator state restores
        # wholesale (MySqlSourceEnumerator / HybridPendingSplitsState).
        # This watermark is the restore-safe floor: partitions() never
        # plans a stream range below it, so a transiently regressed offset
        # document can never re-emit delivered events.
        self._seen = -1
        self._last_end: dict | None = None  # latest END document planned
        self.startup_mode = options.get("startupmode", "initial")
        if self.startup_mode not in (
            "initial", "earliest-offset", "latest-offset", "specific-offset", "timestamp"
        ):
            raise ValueError(f"unknown startupMode {self.startup_mode!r}")
        if self.startup_mode == "specific-offset":
            self.start_off = int(options["startupoffset"])
        elif self.startup_mode == "timestamp":
            ts_ms = int(options["startuptimestampms"])
            row = _duck(
                self.path,
                f"SELECT coalesce(min(event_id), {self.max_off} + 1) FROM log "
                f"WHERE ts >= to_timestamp({ts_ms} / 1000.0)",
            ).fetchone()
            self.start_off = int(row[0]) - 1
        elif self.startup_mode == "earliest-offset":
            self.start_off = -1
        elif self.startup_mode == "latest-offset":
            self.start_off = self.max_off
        else:
            self.start_off = None  # initial: snapshot phase decides
        # Capture-set stamp state (keyRanges mode): configured range ->
        # the snapshot/backfill watermark this reader knows. Fresh value =
        # the mode's snapshot watermark; partitions() overwrites it with
        # the actual suspend offset when it plans a backfill, and with the
        # checkpointed value when a restored document shows one. Planning
        # NEVER trusts an end-document's hw for an already-captured range
        # (only the committed start document's), and stream-phase
        # suppression is clamped to the batch's start position — so a
        # stale stamp here can mis-describe nothing.
        if self.key_ranges is not None:
            init_hw = self.hw if self.startup_mode == "initial" else self.start_off
            self._cap: dict[tuple[int, int], int] = {
                r: init_hw for r in self.key_ranges
            }
            # ranges THIS reader planned a backfill for: their _cap entry
            # is the true suspend offset and outranks any placeholder a
            # pre-backfill checkpoint document still carries
            self._backfilled: set[tuple[int, int]] = set()

    def _payload_select(self, at_offset: int) -> str:
        """Decode projection for a split whose events are all <= or all >
        the DDL boundaries — i.e. share one schema version at ``at_offset``.

        Final-schema columns that (a) existed at this offset and (b) are
        physically present in the log are read; everything else becomes a
        typed NULL — exactly how the reference conforms a pre-DDL split to
        the evolved produced type."""
        if self.history is None:
            at = {f.name: f.dataType for f in self.final_schema.fields}
        else:
            st = self.history.schema_at(self.db, self.table, at_offset)
            at = {f.name: f.dataType for f in st.fields} if st is not None else {}
        parts = []
        for f in self.final_schema.fields:
            fin = _duck_type(f.dataType)
            if f.name in at and f.name in self.physical_cols:
                cur = _duck_type(at[f.name])
                if cur == fin:
                    parts.append(f"CAST({f.name} AS {fin}) AS {f.name}")
                else:
                    # decode under the type in force AT THIS OFFSET, then
                    # conform (losslessly widen) to the pinned produced
                    # type — e.g. a (10,2) epoch surfaces 2-decimal values
                    # inside a (18,4) column, exactly what a reader of the
                    # old epoch's row images can know
                    parts.append(
                        f"CAST(CAST({f.name} AS {cur}) AS {fin}) AS {f.name}"
                    )
            else:
                parts.append(f"CAST(NULL AS {fin}) AS {f.name}")
        return ", ".join(parts)

    def _split_at_ddl(self, from_off: int, to_off: int) -> list[tuple[int, int]]:
        """Split (from_off, to_off] so no sub-range spans a DDL offset —
        every event in a sub-range then decodes with one schema version
        (the reference re-creates its deserializer on schema change)."""
        cuts = sorted(
            {d - 1 for d in self.ddl_offsets if from_off < d - 1 < to_off}
        )
        bounds = [from_off, *cuts, to_off]
        return [
            (a, b) for a, b in zip(bounds, bounds[1:]) if b > a
        ]

    def _key_splits(
        self, key_range: tuple[int, int] | None = None
    ) -> list[tuple[int, int]]:
        """The canonical uniform key split [(lo, hi), ...] of a captured
        key range into ``num_chunks`` pieces — the single source of truth
        for chunk boundaries (MySqlChunkSplitter fast path). The initial
        snapshot plan, the newly-added-range backfill, and the mid-stream
        re-snapshot plan all reuse it, so the paths can never drift.
        Default range = the whole key space."""
        key_lo, key_hi = key_range if key_range else (self.key_lo, self.key_hi)
        step = max((key_hi - key_lo + self.num_chunks - 1) // self.num_chunks, 1)
        splits = []
        for i in range(self.num_chunks):
            lo = key_lo + i * step
            if lo >= key_hi:
                break
            splits.append((lo, min(lo + step, key_hi)))
        return splits

    def _captured_ranges(self) -> list[tuple[int, int]]:
        """The key ranges this source captures (whole space when no
        explicit keyRanges option is set)."""
        return (
            self.key_ranges
            if self.key_ranges is not None
            else [(self.key_lo, self.key_hi)]
        )

    def _chunk_plan(self, base_hw: int) -> list[tuple[int, int, int]]:
        """[(key_lo, key_hi, hw)] for every snapshot chunk."""
        splits = self._key_splits()
        return [
            (
                lo,
                hi,
                int(base_hw * (i + 1) / self.num_chunks) if self.stagger else base_hw,
            )
            for i, (lo, hi) in enumerate(splits)
        ]

    def _epoch_at(self, off: int) -> int | None:
        """Schema epoch of a decode at ``off`` — the number of column TYPE
        CHANGE boundaries at or below it. None when the history declares no
        type changes (the source then emits no epoch column, keeping the
        produced type of every existing deployment unchanged).

        Why it exists: a mid-stream re-snapshot re-emits each key's image
        with the SAME (ts, event_id) as a raw change already emitted under
        the OLD decode. (ts, event_id) alone makes that pair a
        nondeterministic tie in changelog_normalize — the recovered
        precision could lose to the stale decode. The epoch column makes
        the tie deterministic in favor of the newest decode (the reference
        never faces this: its re-snapshot REPLACES downstream state by
        arrival order in the keyed state backend)."""
        if not self.type_change_offsets:
            return None
        return sum(1 for t in self.type_change_offsets if t <= off)

    # -- offsets (HybridPendingSplitsState analog) -------------------------

    def _offset_dict(
        self, phase: str, hw: int, off: int, dlv: int = -1
    ) -> dict:
        # The offset JSON carries the position both as the scalar event_id
        # and as the composite BinlogOffset form (BinlogOffset.java shape:
        # kind/gtids/server_id/ts/file/pos/skips); restore prefers the
        # composite so checkpoints from a multi-component log (GTID sets,
        # rotated files) flow through the same ordering logic. The "v"
        # stamp versions the checkpoint document itself (the reference
        # versions its split/state serializers and tests savepoint
        # compatibility across releases — MySqlCompatibilityITCase.java);
        # restore migrates older stamps and REJECTS newer ones.
        doc = {
            "v": OFFSET_FORMAT_VERSION,
            "phase": phase,
            "hw": hw,
            "off": off,
            "dlv": dlv,
            "binlog": BinlogOffset.specific(file="binlog.000001", pos=off).to_dict(),
        }
        # keyRanges mode: the document carries the capture set (v3 "cap"),
        # so a restart with a WIDER configured list can diff the restored
        # capture set against its own and backfill the difference — the
        # HybridPendingSplitsState capture-set analog. The hw stamped per
        # range is this reader's best knowledge; planning only ever trusts
        # the committed START document's values (see partitions()).
        if self.key_ranges is not None:
            doc["cap"] = [[lo, hi, self._cap[(lo, hi)]] for lo, hi in self.key_ranges]
        return doc

    @staticmethod
    def _migrate_offset(d: dict) -> dict:
        """Versioned restore (the savepoint-compatibility contract,
        MySqlCompatibilityITCase.java / the reference's versioned split
        serializers): a checkpoint written by an OLDER engine migrates
        forward; one written by a NEWER engine fails loudly instead of
        being misread (a serializer reading past its known fields
        silently corrupts restart positions — the reference bumps the
        serializer version for exactly this reason)."""
        v = d.get("v", 0)
        if v > OFFSET_FORMAT_VERSION:
            raise ValueError(
                f"offset checkpoint format v{v} is newer than this engine's "
                f"v{OFFSET_FORMAT_VERSION}; upgrade the engine or restart "
                f"from a fresh checkpoint"
            )
        if v == 0:
            # v0 = pre-versioning (round-3) checkpoints: same scalar
            # fields, no stamp, composite binlog form optional
            d = dict(d)
            d["v"] = OFFSET_FORMAT_VERSION
            if not d.get("binlog"):
                d["binlog"] = BinlogOffset.specific(
                    file="binlog.000001", pos=d["off"]
                ).to_dict()
        if "dlv" not in d:
            # v0/v1 documents predate the delivered watermark. Migrate to
            # "unknown" (-1), NOT to the document's own position: an END
            # document of a pending WAL batch is not yet delivered, and a
            # floor at its own offset would skip the whole replay range
            # (data loss). A START document's committed floor is already
            # carried by its "off" field, so -1 loses nothing.
            d = dict(d)
            d["v"] = OFFSET_FORMAT_VERSION
            d["dlv"] = -1
        return d

    @staticmethod
    def _off(d: dict) -> int:
        return BinlogOffset.from_dict(d["binlog"]).pos if d.get("binlog") else d["off"]

    def initialOffset(self) -> dict:
        if self.startup_mode == "initial":
            return self._offset_dict("snapshot", self.hw, -1)
        # log-only modes: start the stream at the resolved offset, no
        # snapshot chunks (SeekBinlogToTimestampFilter analog for
        # 'timestamp'; binlog seek for the offset modes)
        return self._offset_dict("stream", self.start_off, self.start_off)

    def latestOffset(self) -> dict:
        # snapshot not yet emitted -> the next batch is the whole snapshot
        # (all chunks in parallel); afterwards the stream tail advances to
        # the current log end (static fixture: max_off) — or, under the
        # maxOffsetsPerBatch rate limit, by at most that many offsets per
        # call.  The planning cursor lives on the driver-side reader.
        # latestOffset() takes no start offset in the Python API (and is
        # called BEFORE initialOffset even on a fresh query), so on a
        # checkpoint RESTORE a fresh reader cannot see the committed
        # position when it first plans — blindly advancing from the
        # startup position would regress the offset log and re-emit
        # already-delivered ranges on the batches after the regression.
        # Three guards make the rate-limited path restore-safe:
        #   (a) the FIRST rate-limited plan is a non-advancing ANCHOR at
        #       max(startup position, delivered watermark) — it may still
        #       sit behind a restored checkpoint, but it never plans data;
        #   (b) partitions(start, end) clamps the cursor and the delivered
        #       watermark forward to every committed position the
        #       checkpoint documents show (start offsets and dlv stamps),
        #       so planning recovers on the next call;
        #   (c) stream ranges never slice below the delivered watermark
        #       (see partitions()), so even a transiently regressed WAL
        #       pair replayed after a second crash re-emits nothing.
        # the hw stamped into the END offset becomes the NEXT batch's
        # chunk-plan watermark (partitions() rebuilds the plan from
        # start["hw"]) — it must match the mode's snapshot watermark
        # exactly as initialOffset stamps it, or the per-chunk shouldEmit
        # filter silently drops every event of the later batches
        hw = self.hw if self.startup_mode == "initial" else self.start_off
        if self.refresh_latest:
            cur = _duck(self.path, "SELECT max(event_id) FROM log").fetchone()[0]
            if cur is not None:
                self.max_off = max(self.max_off, int(cur))
        if self.max_per_batch is None:
            return self._end_offset(hw, self.max_off)
        if self._planned_off is None:
            # guard (a): non-advancing anchor — fresh query: batch 0 plans
            # (startup, startup] (empty tail; the snapshot phase, if any,
            # still runs); restore: the anchor may sit behind the
            # checkpoint, but it plans no data, and partitions() clamps
            # the cursor forward before the next advance.
            self._planned_off = max(hw, self._seen)
            return self._end_offset(hw, self._planned_off)
        self._planned_off = min(self._planned_off + self.max_per_batch, self.max_off)
        return self._end_offset(hw, self._planned_off)

    def _end_offset(self, hw: int, off: int) -> dict:
        """The END document of the next batch. A plan that does not
        advance returns the previous document UNCHANGED: Spark then sees
        the end it already holds and runs no micro-batch. (A fresh "dlv"
        stamp alone — partitions() moves the delivered watermark on every
        batch — would make the document differ and plan one zero-row batch
        per data batch.) The delivered watermark thus rides only on
        documents that advance or change their capture set. The restore
        guards still hold:
          (a) a fresh reader has no previous document, so its first plan
              is the anchor, as before;
          (b) every new document still stamps dlv from committed evidence
              only, and every genuine slice's committed start still
              clamps the cursor — the checkpointed floor may be older, a
              lower floor, never a wrong one;
          (c) a reused document plans no batch, so no stream range is
              ever sliced under its older stamp: every planned range ends
              at a freshly stamped document."""
        doc = self._offset_dict("stream", hw, off, dlv=self._seen)
        prev = self._last_end
        if prev is not None and {**prev, "dlv": doc["dlv"]} == doc:
            return prev
        self._last_end = doc
        return doc

    def partitions(self, start: dict, end: dict):
        # Spark hands back whatever offset JSON the checkpoint holds —
        # possibly written by an older (or newer) engine build; migrate
        # or reject BEFORE reading any field it may lack.
        start = self._migrate_offset(start)
        end = self._migrate_offset(end)
        # guard (b): committed evidence in the checkpoint documents. A
        # genuine batch slice's START is the previous batch's committed
        # end, and a "dlv" stamp was derived from committed knowledge when
        # its document was planned. end["off"] is NOT evidence (it may be
        # the pending WAL batch being replayed right now) — and neither is
        # start["off"] of a DEGENERATE (start == end) call: on restore
        # with a pending batch, Spark first issues a recovery call
        # partitions(pending_end, pending_end) whose offsets are
        # uncommitted; taking that as the floor would empty the actual
        # replay that follows (data loss, not just a dupe).
        self._seen = max(self._seen, start["dlv"], end["dlv"])
        if self._off(start) != self._off(end):
            self._seen = max(self._seen, self._off(start))
        if self._planned_off is None or self._planned_off < self._seen:
            self._planned_off = max(self._seen, self._off(end))
        parts: list[InputPartition] = []
        added: list[tuple[int, int]] = []
        if self.key_ranges is not None:
            # Newly-added-tables detection (the checkpointed form of
            # HybridCdcSource.add_key_range): the batch's committed START
            # document carries the capture set as of the checkpoint; any
            # configured range it lacks was added since — suspend/
            # backfill/resume below. A legacy capless document means the
            # old run captured the whole key space (nothing can be new,
            # and the whole space keeps emitting).
            raw_cap = start.get("cap")
            if raw_cap is None:
                captured = {(self.key_lo, self.key_hi): start["hw"]}
                added = []
            else:
                cap_all = {(int(lo), int(hi)): int(hw) for lo, hi, hw in raw_cap}
                # the flag gates DISCOVERY: with newlyAddedTables=false a
                # configured-but-never-captured range is not backfilled and
                # gets no emit entry — it stays an uncaptured table, as in
                # the reference when scan.newly-added-table.enabled is off
                added = (
                    [r for r in self.key_ranges if r not in cap_all]
                    if self.newly_added_enabled
                    else []
                )
                # NARROWED config: a range removed from keyRanges stops
                # emitting in the very first post-restart batch (the
                # reference's table filter applies at deserialization —
                # a dropped table never reaches the output), so the
                # checkpointed entry is excluded from the emit plan, not
                # phased out a batch later.
                cfg = set(self.key_ranges)
                captured = {r: hw for r, hw in cap_all.items() if r in cfg}
            # documents are truth: adopt checkpointed watermarks for the
            # ranges this reader also captures (a fresh reader's stamps
            # are placeholders until the first restored document lands) —
            # EXCEPT ranges this reader itself backfilled, whose recorded
            # suspend offset outranks the pre-backfill placeholder still
            # circulating in the batch documents stamped before the plan.
            # (Planning stays safe either way — the stream-phase clamp
            # bounds suppression — this keeps the STAMPED documents
            # converging to the true watermark instead of the placeholder.)
            for r, hw in captured.items():
                if r in self._cap and r not in self._backfilled:
                    self._cap[r] = hw
            chunk_plan = tuple(
                (lo, hi, hw) for (lo, hi), hw in sorted(captured.items())
            )
        else:
            chunk_plan = tuple(self._chunk_plan(start["hw"]))
        if start["phase"] == "snapshot":
            for lo, hi, hw in chunk_plan:
                sel, ep = self._payload_select(hw), self._epoch_at(hw)
                for clo, chi in (
                    self._key_splits((lo, hi))
                    if self.key_ranges is not None
                    else [(lo, hi)]
                ):
                    parts.append(
                        ChunkPartition(self.path, clo, chi, hw, sel, ep)
                    )
        # The stream starts at the MIN chunk watermark
        # (MySqlHybridSplitAssigner.createBinlogSplit:189-227); shouldEmit
        # drops events a chunk's backfill already covered.
        min_hw = min((hw for _, _, hw in chunk_plan), default=start["hw"])
        # guard (c): a stream range never slices below the delivered
        # watermark — a transiently regressed start (the anchor batch
        # after a restore, or its WAL replay after a second crash) plans
        # an empty range instead of re-emitting delivered events. The
        # snapshot->stream transition keeps min_hw (chunk backfill overlap
        # is handled by shouldEmit, not by this floor).
        stream_from = (
            min_hw
            if start["phase"] == "snapshot"
            else max(self._off(start), self._seen)
        )
        if added:
            # Suspend/backfill/resume: each newly-added range becomes
            # snapshot chunks at the SUSPEND offset (= where the stream
            # stands when the addition is detected — deterministic from
            # the committed start document, so a WAL replay reproduces the
            # identical plan), decoded under the schema current there; the
            # stream partitions of this same batch already start past it,
            # so the emit filter entry at hw=suspend hands the range over
            # exactly once (MySqlSourceReader.java:147-240 semantics).
            sel, ep = self._payload_select(stream_from), self._epoch_at(stream_from)
            for lo, hi in added:
                for clo, chi in self._key_splits((lo, hi)):
                    parts.append(
                        ChunkPartition(self.path, clo, chi, stream_from, sel, ep)
                    )
                self._cap[(lo, hi)] = stream_from
                self._backfilled.add((lo, hi))
            chunk_plan = chunk_plan + tuple(
                (lo, hi, stream_from) for lo, hi in added
            )
        if self.key_ranges is not None and start["phase"] == "stream":
            # Stream-phase suppression clamp: a backfill can only ever
            # have covered offsets <= the batch's committed start (its
            # suspend was some earlier batch's start), so suppression
            # above start is always wrong. This neutralizes placeholder
            # hw stamps a fresh post-restore reader writes before it has
            # seen the checkpointed capture set — e.g. a snapshotFraction
            # watermark recomputed against a GROWN log, which would
            # otherwise silently swallow the tail.
            chunk_plan = tuple(
                (lo, hi, min(hw, stream_from)) for lo, hi, hw in chunk_plan
            )
        end_off = self._off(end)
        if end_off > stream_from:
            # One StreamPartition per schema-uniform sub-range: a range is
            # cut at every DDL offset it spans, and each piece decodes with
            # the schema current at its upper bound.
            for a, b in self._split_at_ddl(stream_from, end_off):
                parts.append(
                    StreamPartition(
                        self.path, a, b, chunk_plan,
                        self._payload_select(b), self._epoch_at(b),
                        emit_uncovered=self.key_ranges is None,
                    )
                )
            # A COLUMN TYPE CHANGE inside this range forces a mid-stream
            # RE-SNAPSHOT (the streaming form of the suspend/backfill/
            # resume flow, MySqlSourceReader.java:147-240): the old-type
            # row images cannot be conformed by projection, so the whole
            # key space is re-read as chunk partitions AT the boundary,
            # decoded under the NEW schema; the post-boundary stream
            # sub-ranges (already cut above) then supersede it. Planned in
            # exactly the batch whose range first contains the boundary —
            # deterministic from (start, end), so a WAL replay reproduces
            # the identical plan.
            for tco in self.type_change_offsets:
                if stream_from < tco <= end_off:
                    hw = tco - 1
                    sel = self._payload_select(tco)
                    epoch = self._epoch_at(tco)
                    # re-read each CAPTURED range (in keyRanges mode the
                    # capture set of this batch, added ranges included) —
                    # never the whole key space, which would widen the
                    # capture into never-captured keys
                    resnap_ranges = (
                        [(lo, hi) for lo, hi, _ in chunk_plan]
                        if self.key_ranges is not None
                        else [None]
                    )
                    for rng in resnap_ranges:
                        for lo, hi in self._key_splits(rng):
                            parts.append(
                                ChunkPartition(self.path, lo, hi, hw, sel, epoch)
                            )
        if not parts:
            # Spark requires >=1 partition; an empty log range reads nothing
            # (decode projection + epoch still stamped so the empty Arrow
            # batch schema matches the produced type)
            parts.append(
                StreamPartition(
                    self.path, end_off, end_off, (),
                    self._payload_select(end_off), self._epoch_at(end_off),
                )
            )
        return parts

    def read(self, partition: InputPartition):
        # Executor-side: DuckDB over the parquet slice -> Arrow batches.
        # Chunk reads push the key-range + offset predicates into the scan
        # (the reference's per-split WHERE clause); the normalize is the
        # upsertBinlog reconciliation collapsed into SQL.
        epoch_col = (
            f", CAST({partition.epoch} AS INTEGER) AS schema_epoch"
            if partition.epoch is not None
            else ""
        )
        if isinstance(partition, ChunkPartition):
            sql = f"""
            SELECT 'insert' AS op, {partition.payload_select},
                   CAST(ts AS TIMESTAMP) AS ts, event_id{epoch_col}
            FROM (
              SELECT *, {_OP_SQL} AS __op,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY {offset_order(desc=True)}) AS rn
              FROM log
              WHERE user_id >= {partition.key_lo} AND user_id < {partition.key_hi}
                AND event_id <= {partition.hw}
            ) WHERE rn = 1 AND __op <> 'delete'
            """
        else:
            # shouldEmit: past the containing chunk's HW (with uniform HWs
            # the predicate degenerates to the plain offset range). Keys
            # outside every chunk: emitted in whole-space capture (first
            # seen after planning — nothing backfilled them), dropped with
            # explicit keyRanges (an uncaptured table).
            emit = (
                " OR ".join(
                    f"(user_id >= {lo} AND user_id < {hi} AND event_id > {hw})"
                    for lo, hi, hw in partition.chunk_hws
                )
                or "TRUE"
            )
            if partition.emit_uncovered and partition.chunk_hws:
                covered = " OR ".join(
                    f"(user_id >= {lo} AND user_id < {hi})"
                    for lo, hi, _ in partition.chunk_hws
                )
                emit = f"({emit}) OR NOT ({covered})"
            sql = f"""
            SELECT {_OP_SQL} AS op, {partition.payload_select},
                   CAST(ts AS TIMESTAMP) AS ts, event_id{epoch_col}
            FROM log
            WHERE event_id > {partition.from_off} AND event_id <= {partition.to_off}
              AND ({emit})
            ORDER BY event_id
            """
        reader = _duck(partition.path, sql).fetch_record_batch()
        while True:
            try:
                yield reader.read_next_batch()
            except StopIteration:
                break

    def commit(self, end: dict) -> None:
        # offsets live in the checkpoint; nothing external to ack — but a
        # committed end IS delivered evidence for the watermark (guard (c))
        end = self._migrate_offset(end)
        self._seen = max(self._seen, self._off(end), end["dlv"])


class CdcBinlogDataSource(DataSource):
    """spark.readStream.format("cdc_binlog").option("path", ...).load()

    Options: ``path`` (changelog parquet), ``numChunks`` (snapshot splits,
    default 4), ``snapshotFraction`` (log fraction covered by the snapshot
    phase, default 1.0 — lower leaves a stream tail), ``staggerChunks``
    (each chunk snapshots at a different watermark, exercising the
    per-chunk shouldEmit filter — the DBLog concurrent-DML scenario),
    ``startupMode`` (initial | earliest-offset | latest-offset |
    specific-offset + ``startupOffset`` | timestamp + ``startupTimestampMs``
    — StartupMode.java:24-33; non-initial modes skip the snapshot phase),
    ``maxOffsetsPerBatch`` (cap on how far the stream-phase offset advances
    per micro-batch — the debezium max.batch.size / Kafka
    maxOffsetsPerTrigger analog; restart-safe: a crash inside a
    rate-limited drain resumes with at most Spark's own documented
    replay of the single pending batch, never a regression),
    ``keyRanges`` (JSON ``[[lo, hi], ...]`` — the explicit capture set;
    each half-open key range models one regex-matched TABLE. Offset
    documents then carry the capture set, and RESTARTING the query from
    the same checkpoint with a WIDER list drives the newly-added-tables
    protocol: the stream suspends at the restored position, the new
    ranges are snapshot there as chunk partitions, and the stream resumes
    with emit-filter entries covering them — MySqlSourceReader.java:
    147-240, BinlogSplitUpdateRequestEvent, NewlyAddedTableITCase.java),
    ``newlyAddedTables`` (default ``false``, the reference's
    scan.newly-added-table.enabled default; set ``true`` to enable the
    restart-time capture-set diff — without it a
    configured-but-never-captured range is left uncaptured instead of
    backfilled, exactly the reference's flag-off behavior).

    Known limit: Spark's Python streaming API does not implement
    ``Trigger.AvailableNow`` (the engine logs "does not support
    Trigger.AvailableNow. Falling back to single batch") — a bounded drain
    of a rate-limited stream therefore uses a processing-time trigger with
    ``processAllAvailable()``/``stop()``, not availableNow (the
    ``streaming.changelog.drain`` helper).
    """

    @classmethod
    def name(cls) -> str:
        return "cdc_binlog"

    def schema(self) -> str:
        # schema() runs at load()-analysis time on the driver — validate
        # here so a missing path fails fast, not asynchronously inside the
        # stream thread. The produced type is pinned to the LATEST schema
        # version (pre-DDL splits are conformed with typed NULLs).
        if not self.options.get("path"):
            raise ValueError(
                "cdc_binlog requires .option('path', <changelog parquet>)"
            )
        payload = _payload_schema_from_options(self.options)
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in payload.fields)
        base = f"op string, {cols}, ts timestamp, event_id bigint"
        # A history with TYPE CHANGES means mid-stream re-snapshots: image
        # rows can share (ts, event_id) with an already-emitted raw change
        # under the old decode, so the produced type gains a schema_epoch
        # column that makes changelog_normalize's tie deterministic in
        # favor of the newest decode. Histories without type changes (or
        # none) keep the original produced type.
        if _type_change_offsets_from_options(self.options):
            base += ", schema_epoch int"
        return base

    def streamReader(self, schema: StructType) -> CdcBinlogStreamReader:
        return CdcBinlogStreamReader(schema, self.options)


_PICKLED_BY_VALUE = False


def register(spark) -> None:
    """Register the source with a session (idempotent), making it
    self-contained for any launch environment.

    DSv2 classes normally unpickle BY MODULE IMPORT in the planning and
    executor Python workers, so a driver process launched outside the
    repo (cwd elsewhere, no PYTHONPATH) fails with ModuleNotFoundError
    before the first batch (``addPyFile`` does not reach the DSv2
    planning worker). Registering the package's loaded modules for
    cloudpickle BY-VALUE serialization ships the class code inside the
    pickle itself — the workers never import the package. This is what
    ``--py-files``-less notebook deployments of Python data sources do."""
    global _PICKLED_BY_VALUE
    if not _PICKLED_BY_VALUE:
        import sys

        from pyspark import cloudpickle

        for name, mod in list(sys.modules.items()):
            if name.startswith("flink_cdc_connectors_spark") and mod is not None:
                cloudpickle.register_pickle_by_value(mod)
        _PICKLED_BY_VALUE = True
    spark.dataSource.register(CdcBinlogDataSource)
