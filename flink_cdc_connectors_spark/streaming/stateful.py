"""Stateful streaming operators: ChangelogNormalize and the patch fold.

Both are Spark streaming aggregations over ``max_by``: per key, the JVM
state store keeps the aggregate buffer — the latest event by offset, with
the offset it was ranked by — and update mode emits every key the
micro-batch touched with its current state (update semantics — exactly
what the reference's upsert sinks consume). This is the Structured
Streaming analog of Flink's keyed state backend: state is row-level and
incremental, and no event leaves the JVM.

The offset is ``operators.cdc.offset_order`` — the order the batch
``changelog_normalize`` and every reader of the materialized store rank
by — so a buffer merged across micro-batches holds what a batch
aggregate over the whole log would. A late event lands at its own offset
whatever batch it arrives in, and a redelivered event ties its twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cdc_connectors_spark.operators.cdc import offset_order
from flink_cdc_connectors_spark.sources.envelope import METADATA_COLUMNS


def streaming_changelog_normalize(
    changelog_stream: DataFrame, key_cols: list[str] = ("user_id",)
) -> DataFrame:
    """Changelog stream -> per-key latest-state updates
    ``(*keys, op, *payload, ts_ms, event_id)``; op='delete' rows are
    emitted as tombstone updates (the consumer drops them from its
    materialized view). Use outputMode('update').

    The payload is every column of the stream that is neither a key nor
    envelope metadata. The offset order is ``changelog_normalize``'s:
    (ts, event_id), then ``schema_epoch`` when the stream carries one, so
    a re-snapshot image that ties a raw change on (ts, event_id) wins by
    its newer decode. Update mode also re-emits a key whose late, older
    event did not advance it — with the unchanged state, so the last
    emission per key is always latest-by-offset."""
    keys = list(key_cols)
    cols = changelog_stream.columns
    payload = [c for c in cols if c not in METADATA_COLUMNS and c not in keys]
    event = ", ".join(f"`{c}`" for c in ["op", *payload, "ts", "event_id"])
    return (
        changelog_stream.groupBy(*keys)
        .agg(F.expr(f"max_by(struct({event}), struct({offset_order(cols)})) AS __e"))
        .selectExpr(
            *[f"`{k}`" for k in keys],
            "__e.op",
            *[f"__e.`{c}`" for c in payload],
            "unix_millis(__e.ts) AS ts_ms",
            "__e.event_id",
        )
    )


# ---------------------------------------------------------------------------
# Change-stream PATCH fold (MongoDB partial images)
# ---------------------------------------------------------------------------
#
# The normalize above assumes FULL row images (any event replaces the whole
# payload, so only the max-offset event matters). MongoDB change streams
# without fullDocument lookup deliver PARTIAL images: an update carries only
# the fields it touched (updateDescription.updatedFields/removedFields —
# MongoDBSource.java:55 forces FULL_DOCUMENT_UPDATE_LOOKUP precisely to
# avoid this). The fold below makes the lookup unnecessary: per-key
# document state lives in the state store and every patch applies
# incrementally.
#
# Input contract per change row (one per event):
#   (*keys, ts, event_id, op) with op in insert|replace|update|delete, and
#   for each document field f two columns: `f` (the value, NULL meaning
#   absent-or-removed) and `f_act` (1 if this event ACTS on f: full images
#   and deletes act on every field; an update acts on its
#   updatedFields+removedFields).
# A field's value is the one of the latest-by-offset event that acts on it
# (NULL when that event is a delete), and the document is alive when its
# latest event is not a delete. So each field is its own max_by — rows
# whose ordering is NULL (events that leave the field alone) are skipped.


def streaming_patch_fold(
    change_stream: DataFrame, key_cols: list[str] = ("user_id",)
) -> DataFrame:
    """Partial-image change stream -> per-key folded document updates
    ``(*keys, op, *fields, ts_ms, event_id)`` with op 'upsert' or 'delete'
    (a tombstone). Use outputMode('update'). The document fields are the
    columns ``f`` that come with an ``f_act`` flag; see the input contract
    in the module comment above."""
    keys = list(key_cols)
    cols = change_stream.columns
    fields = [c for c in cols if f"{c}_act" in cols]
    offset = f"struct({offset_order(cols)})"
    folded = [
        f"max_by(CASE WHEN op = 'delete' THEN NULL ELSE `{f}` END, "
        f"CASE WHEN op IN ('insert', 'replace', 'delete') "
        f"OR (op = 'update' AND `{f}_act` = 1) THEN {offset} END) AS `{f}`"
        for f in fields
    ]
    return (
        change_stream.groupBy(*keys)
        .agg(
            F.expr(f"max_by(struct(op, ts, event_id), {offset}) AS __last"),
            *[F.expr(e) for e in folded],
        )
        .selectExpr(
            *[f"`{k}`" for k in keys],
            "CASE WHEN __last.op = 'delete' THEN 'delete' ELSE 'upsert' END AS op",
            *[f"`{f}`" for f in fields],
            "unix_millis(__last.ts) AS ts_ms",
            "__last.event_id",
        )
    )
