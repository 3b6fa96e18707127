"""Stateful streaming operators: ChangelogNormalize and the patch fold.

`streaming_changelog_normalize` is Flink's ChangelogNormalize as a Spark
streaming aggregation: ``groupBy(key).agg(max_by(event, offset))`` keeps
the latest-by-offset event per key in the JVM state store, and update
mode emits every key the micro-batch touched with its current state
(update semantics — exactly what the reference's upsert sinks consume).
Unlike the foreachBatch rewrite in ``changelog.py`` (which rewrites the
whole store per epoch), state here is row-level and incremental — the
Structured Streaming analog of Flink's keyed state backend — and is the
DEFAULT path of ``materialize_latest_state``. No event leaves the JVM.

`streaming_patch_fold` is the one operator that needs custom state:
partial (MongoDB patch) images must fold in offset order, so it runs as
``applyInPandasWithState``, with Arrow moving batches between the JVM and
Python.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_cdc_connectors_spark.operators.cdc import _OFFSET_ORDER
from flink_cdc_connectors_spark.sources.envelope import METADATA_COLUMNS


def _to_py(value: Any, dtype: DataType) -> Any:
    """Pandas/numpy scalar -> the Python type the GroupState serializer
    expects for ``dtype`` (None passes through)."""
    if value is None or (isinstance(value, float) and pd.isna(value)):
        return None if isinstance(dtype, StringType) else value
    if isinstance(dtype, (LongType, IntegerType)):
        return int(value)
    if isinstance(dtype, (DoubleType, FloatType)):
        return float(value)
    if isinstance(dtype, StringType):
        return str(value)
    return value


def streaming_changelog_normalize(
    changelog_stream: DataFrame, key_col: str = "user_id"
) -> DataFrame:
    """Changelog stream -> per-key latest-state updates
    ``(key, op, *payload, ts_ms, event_id)``; op='delete' rows are emitted
    as tombstone updates (the consumer drops them from its materialized
    view). Use outputMode('update').

    The payload is every column of the stream that is neither the key nor
    envelope metadata. The offset order is ``changelog_normalize``'s:
    (ts, event_id), then ``schema_epoch`` when the stream carries one, so
    a re-snapshot image that ties a raw change on (ts, event_id) wins by
    its newer decode. Update mode also re-emits a key whose late, older
    event did not advance it — with the unchanged state, so the last
    emission per key is always latest-by-offset."""
    payload = [
        c for c in changelog_stream.columns if c not in METADATA_COLUMNS and c != key_col
    ]
    order = list(_OFFSET_ORDER) + (
        ["schema_epoch"] if "schema_epoch" in changelog_stream.columns else []
    )
    event = ", ".join(f"`{c}`" for c in ["op", *payload, "ts", "event_id"])
    offset = ", ".join(f"`{c}`" for c in order)
    return (
        changelog_stream.groupBy(key_col)
        .agg(F.expr(f"max_by(struct({event}), struct({offset})) AS __e"))
        .selectExpr(
            f"`{key_col}`",
            "__e.op",
            *[f"__e.`{c}`" for c in payload],
            "unix_millis(__e.ts) AS ts_ms",
            "__e.event_id",
        )
    )


# ---------------------------------------------------------------------------
# Change-stream PATCH fold (MongoDB partial images) as a stateful operator
# ---------------------------------------------------------------------------
#
# The normalize above assumes FULL row images (any event replaces the whole
# payload, so only the max-offset event matters). MongoDB change streams
# without fullDocument lookup deliver PARTIAL images: an update carries only
# the fields it touched (updateDescription.updatedFields/removedFields —
# MongoDBSource.java:55 forces FULL_DOCUMENT_UPDATE_LOOKUP precisely to
# avoid this). The stateful fold below is the operator that makes the
# lookup unnecessary: per-key document state lives in the state store and
# every patch applies incrementally, in offset order.
#
# Input contract per change row (one per event):
#   (key, ts, event_id, op) with op in insert|replace|update|delete, and
#   for each document field f two columns: `f` (the value, NULL meaning
#   absent-or-removed) and `f_act` (1 if this event ACTS on f: full images
#   act on every field; an update acts on its updatedFields+removedFields).
# State per key: (ts_ms, event_id, alive, *field values).
# Events at or below the state's offset are DROPPED — the resume-token
# monotonicity guarantee, which also makes at-least-once redelivery safe
# (replaying an old patch after newer ones must not corrupt the doc).


def make_patch_fold(
    key_col: str = "user_id",
    fields: list[StructField] | None = None,
    key_type: DataType | None = None,
) -> tuple[Callable, StructType, StructType]:
    """Build (function, output schema, state schema) for the change-stream
    patch fold over a document with the given field schema."""
    flds = (
        list(fields)
        if fields is not None
        else [StructField("value_cents", LongType()), StructField("props_k", LongType())]
    )
    names = [f.name for f in flds]
    types = [f.dataType for f in flds]
    state_schema = StructType(
        [
            StructField("ts_ms", LongType()),
            StructField("event_id", LongType()),
            StructField("alive", IntegerType()),
            *flds,
        ]
    )
    output_schema = StructType(
        [
            StructField(key_col, key_type or LongType()),
            StructField("op", StringType()),
            *flds,
            StructField("ts_ms", LongType()),
            StructField("event_id", LongType()),
        ]
    )

    def _opt(value: Any, dtype: DataType) -> Any:
        # None/NaN -> None even for numeric dtypes (a removed field must be
        # a real NULL in the state store, not a NaN that fails the Long
        # serializer — pandas surfaces nullable ints as float NaN)
        if value is None or (isinstance(value, float) and pd.isna(value)):
            return None
        return _to_py(value, dtype)

    def _flag(value: Any) -> int:
        if value is None or (isinstance(value, float) and pd.isna(value)):
            return 0
        return int(value)

    def fold_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = state.get
            ts_ms, event_id, alive = int(st[0]), int(st[1]), int(st[2])
            vals = {n: st[3 + i] for i, n in enumerate(names)}
        else:
            ts_ms, event_id, alive = -1, -1, 0
            vals = {n: None for n in names}
        changed = False
        # Patches are order-sensitive, so ALL of the key's rows in this
        # micro-batch must fold in one global offset order. Unlike the
        # normalize above (only the max-offset row matters, so per-chunk
        # processing is safe), sorting Arrow chunks independently would let
        # the offset guard drop legitimate patches whenever a key's group
        # spans multiple chunks (> arrow.maxRecordsPerBatch rows) and a
        # later chunk carries lower offsets.
        chunks = [p for p in pdfs if not p.empty]
        if chunks:
            if len(chunks) == 1:
                pdf = chunks[0]
            else:
                # pandas deprecates letting all-NA columns be EXCLUDED from
                # concat dtype inference (FutureWarning; pandas>=3 will let
                # them participate and may shift the result dtype).  The
                # warning concerns OBJECT-dtype all-NA columns only — a
                # patch chunk whose object column is entirely NA carries no
                # type information, so cast exactly those to float64
                # (all-NaN, a plainly typed entry the warning never fires
                # on).  Typed all-NA columns (e.g. an all-NaT datetime64
                # ts) must keep their dtype: casting datetime64 to float64
                # raises TypeError in pandas 2.x, and their dtype already
                # participates in concat inference.  The per-row _opt/_flag
                # coercions below normalize the values regardless of the
                # column dtype they ride in on.
                chunks = [
                    c.astype(
                        {
                            col: "float64"
                            for col in c.columns
                            if c[col].dtype == object and c[col].isna().all()
                        }
                    )
                    for c in chunks
                ]
                pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.assign(ts_ms=pdf["ts"].astype("datetime64[ms]").astype("int64"))
            for row in pdf.sort_values(["ts_ms", "event_id"]).itertuples(index=False):
                off = (int(row.ts_ms), int(row.event_id))
                if off <= (ts_ms, event_id):
                    continue  # stale/redelivered patch: resume-token order
                ts_ms, event_id = off
                changed = True
                op = str(row.op)
                if op in ("insert", "replace"):
                    alive = 1
                    vals = {n: _opt(getattr(row, n), t) for n, t in zip(names, types)}
                elif op == "update":
                    alive = 1
                    for n, t in zip(names, types):
                        if _flag(getattr(row, f"{n}_act")) == 1:
                            vals[n] = _opt(getattr(row, n), t)
                else:  # delete
                    alive = 0
                    vals = {n: None for n in names}
        if changed:
            state.update((ts_ms, event_id, alive, *[vals[n] for n in names]))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "op": ["delete" if alive == 0 else "upsert"],
                    **{n: [vals[n]] for n in names},
                    "ts_ms": [ts_ms],
                    "event_id": [event_id],
                }
            )

    return fold_fn, output_schema, state_schema


def streaming_patch_fold(
    change_stream: DataFrame,
    key_col: str = "user_id",
    fields: list[StructField] | None = None,
) -> DataFrame:
    """Partial-image change stream -> per-key folded document updates
    (update mode; tombstones as op='delete'). See the input contract in
    the module comment above."""
    flds = (
        list(fields)
        if fields is not None
        else [StructField("value_cents", LongType()), StructField("props_k", LongType())]
    )
    key_type = change_stream.schema[key_col].dataType
    fn, out_schema, state_schema = make_patch_fold(key_col, flds, key_type=key_type)
    cols = [key_col, "op", "ts", "event_id"]
    for f in flds:
        cols += [f.name, f"{f.name}_act"]
    return (
        change_stream.select(*cols)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
