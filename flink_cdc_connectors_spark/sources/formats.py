"""Alternative CDC wire formats: changelog-json, Canal JSON, Maxwell JSON,
Ogg JSON.

The reference ships its own ``changelog-json`` format (the pre-Flink-CDC-2.2
wire form, `docs/content/formats/changelog-json.md`: one JSON object per
changelog row — ``{"data": {...}, "op": "+I"|"-U"|"+U"|"-D"}``) and its
documentation directs users to the Flink-standard CDC formats (Debezium /
Canal / Maxwell) for everything newer. ``envelope.py`` covers Debezium;
this module adds the other three shapes the ecosystem actually feeds a CDC
pipeline:

- **changelog-json**: row-kind-expanded, one envelope per changelog ROW
  (an UPDATE is already two wire records, -U then +U).
- **Canal JSON**: one envelope per binlog EVENT —
  ``{"data": [row...], "old": [before...], "type": "INSERT|UPDATE|DELETE",
  "database", "table", "es", "ts", "pkNames"}`` — the decoder expands
  UPDATE into the -U/+U pair exactly like Flink's canal-json format does.
  (Real Canal may emit only changed columns in ``old``; the generator
  emits the full before-image, which is the strictly richer form.)
- **Maxwell JSON**: one envelope per binlog EVENT with a SPARSE ``old``
  (only changed columns) — the decoder rebuilds the before-image by
  overlaying ``old`` on ``data`` per field.
- **Ogg JSON** (Oracle GoldenGate, Flink's ``ogg-json`` format): one
  envelope per EVENT — ``{"table": "DB.TABLE", "op_type": "I|U|D",
  "op_ts", "current_ts", "pos", "primary_keys": [...], "before", "after"}``
  — INSERT carries ``after`` only, DELETE ``before`` only, UPDATE both;
  the decoder expands U into the -U/+U pair.

All encoders are state-aware: they replay per-key state with one lag
window (the same staging as ``events_to_debezium_json``) so before-images
are true prior rows, and deletes of missing keys are dropped — what a
database binlog would actually contain. One hash shuffle on the primary
key; every decode is a single ``from_json`` projection (no UDF).

Round 12: every envelope/decode expression is built as ONE Spark-SQL
string handed to a single ``F.expr``/``selectExpr`` parse instead of
dozens of Column-API py4j round trips (~0.3 ms each on the bench box —
the four-format round-trip key paid ~1 s of driver time per TIMED run in
pure gateway chatter).  The SQL strings parse to the IDENTICAL Catalyst
trees the Column forms built (CASE WHEN == when/otherwise, ``<=>`` ==
eqNullSafe, DDL-string from_json == StructType from_json); wire bytes
and decoded rows are unchanged — pinned by tests/test_formats.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# _safe / _safe_ident / _payload_ddl: the interpolation guards for
# single-parse SQL strings — shared with the Debezium envelope module,
# which round 13 converted to the same single-parse style.
from flink_cdc_connectors_spark.sources.envelope import (
    EVENT_PAYLOAD_SCHEMA,
    _payload_ddl,
    _safe,
    _safe_ident,
    op_col,
)

ROW_KINDS = ("+I", "-U", "+U", "-D")


def _staged(events: DataFrame) -> DataFrame:
    """Per-key state replay: app op, current payload, previous payload and
    op (lag over the offset order), liveness of the previous image."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    payload = F.struct(F.col("user_id"), F.col("value"), F.col("props"))
    return (
        events.withColumn("__app_op", op_col())
        .withColumn("__payload", payload)
        .withColumn("__prev_payload", F.lag(payload).over(w))
        .withColumn("__prev_op", F.lag(op_col()).over(w))
        .withColumn(
            "__live",
            F.col("__prev_op").isNotNull() & (F.col("__prev_op") != "delete"),
        )
        .filter((F.col("__app_op") != "delete") | F.col("__live"))
    )


def events_to_changelog_json(events: DataFrame, staged: DataFrame | None = None) -> DataFrame:
    """Fixture events -> changelog-json wire records (one JSON per
    changelog ROW; UPDATE emits the -U/+U pair as two records).

    ``staged``: optionally pass a pre-computed (possibly materialized)
    ``_staged`` frame so multi-format callers run the per-key state
    replay ONCE instead of once per format."""
    s = _staged(events) if staged is None else staged
    rows = (
        "CASE WHEN __app_op = 'delete'"
        " THEN array(struct('-D' AS op, __prev_payload AS data))"
        " WHEN __live"
        " THEN array(struct('-U' AS op, __prev_payload AS data),"
        " struct('+U' AS op, __payload AS data))"
        " ELSE array(struct('+I' AS op, __payload AS data)) END"
    )
    ex = s.withColumn("__r", F.explode(F.expr(rows)))
    return ex.select(
        F.expr("to_json(struct(__r.data AS data, __r.op AS op))").alias("value")
    )


def parse_changelog_json(
    raw: DataFrame,
    value_col: str = "value",
    payload_schema: T.StructType = EVENT_PAYLOAD_SCHEMA,
) -> DataFrame:
    """changelog-json -> typed rows with ``row_kind`` — one ``from_json``
    projection, schema parameterized per table."""
    value_col = _safe_ident(value_col, "value_col")
    ddl = f"data {_payload_ddl(payload_schema)}, op string"
    parsed = raw.select(
        F.expr(f"from_json({value_col}, '{ddl}')").alias("e")
    )
    return parsed.selectExpr(
        *[f"e.data.`{f.name}` AS `{f.name}`" for f in payload_schema.fields],
        "e.op AS row_kind",
    )


def events_to_canal_json(
    events: DataFrame, db: str = "app", table: str = "events",
    staged: DataFrame | None = None,
) -> DataFrame:
    """Fixture events -> Canal JSON (one envelope per binlog EVENT;
    ``data``/``old`` are single-element arrays of the full row images).
    ``staged``: see events_to_changelog_json."""
    db, table = _safe(db, "db"), _safe(table, "table")
    s = _staged(events) if staged is None else staged
    envelope = (
        "to_json(struct("
        "CASE WHEN __app_op = 'delete' THEN array(__prev_payload)"
        " ELSE array(__payload) END AS data,"
        " CASE WHEN (NOT (__app_op = 'delete')) AND __live"
        " THEN array(__prev_payload) END AS old,"
        " CASE WHEN __app_op = 'delete' THEN 'DELETE'"
        " WHEN __live THEN 'UPDATE' ELSE 'INSERT' END AS type,"
        f" '{db}' AS database, '{table}' AS table,"
        " unix_millis(ts) AS es, unix_millis(ts) AS ts,"
        " array('user_id') AS pkNames))"
    )
    return s.select(F.expr(envelope).alias("value"))


def parse_canal_json(
    raw: DataFrame,
    value_col: str = "value",
    payload_schema: T.StructType = EVENT_PAYLOAD_SCHEMA,
) -> DataFrame:
    """Canal JSON -> typed changelog rows with ``row_kind``: INSERT -> +I,
    DELETE -> -D, UPDATE -> the (-U from ``old``, +U from ``data``) pair —
    the same expansion Flink's canal-json format performs."""
    value_col = _safe_ident(value_col, "value_col")
    p = _payload_ddl(payload_schema)
    ddl = (
        f"data array<{p}>, old array<{p}>, type string, database string,"
        " table string, es bigint, ts bigint, pkNames array<string>"
    )
    parsed = raw.select(F.expr(f"from_json({value_col}, '{ddl}')").alias("e"))
    rows = (
        "CASE WHEN e.type = 'DELETE'"
        " THEN array(struct('-D' AS row_kind, element_at(e.data, 1) AS payload))"
        " WHEN e.type = 'UPDATE'"
        " THEN array(struct('-U' AS row_kind, element_at(e.old, 1) AS payload),"
        " struct('+U' AS row_kind, element_at(e.data, 1) AS payload))"
        " ELSE array(struct('+I' AS row_kind, element_at(e.data, 1) AS payload))"
        " END"
    )
    ex = parsed.withColumn("__r", F.explode(F.expr(rows)))
    return ex.selectExpr(
        *[f"__r.payload.`{f.name}` AS `{f.name}`" for f in payload_schema.fields],
        "__r.row_kind AS row_kind",
    )


def events_to_maxwell_json(
    events: DataFrame, db: str = "app", table: str = "events",
    staged: DataFrame | None = None,
) -> DataFrame:
    """Fixture events -> Maxwell JSON (one envelope per binlog EVENT):
    ``{"database","table","type":"insert|update|delete","ts":<epoch s>,
    "xid","data":{full new row},"old":{CHANGED columns' old values}}``.
    Maxwell's ``old`` is sparse — only columns whose value changed — which
    ``to_json``'s null-dropping produces naturally from a struct whose
    unchanged fields are null.
    ``staged``: see events_to_changelog_json."""
    db, table = _safe(db, "db"), _safe(table, "table")
    s = _staged(events) if staged is None else staged

    def changed(f: str) -> str:
        return (
            f"CASE WHEN NOT (__prev_payload.{f} <=> __payload.{f})"
            f" THEN __prev_payload.{f} END"
        )

    envelope = (
        "to_json(struct("
        f"'{db}' AS database, '{table}' AS table,"
        " CASE WHEN __app_op = 'delete' THEN 'delete'"
        " WHEN __live THEN 'update' ELSE 'insert' END AS type,"
        " cast(unix_millis(ts) / 1000 as bigint) AS ts,"
        " event_id AS xid,"
        " CASE WHEN __app_op = 'delete' THEN __prev_payload"
        " ELSE __payload END AS data,"
        " CASE WHEN (NOT (__app_op = 'delete')) AND __live THEN struct("
        f"{changed('user_id')} AS user_id,"
        f" {changed('value')} AS value,"
        f" {changed('props')} AS props) END AS old))"
    )
    return s.select(F.expr(envelope).alias("value"))


def events_to_ogg_json(
    events: DataFrame, db: str = "APP", table: str = "EVENTS",
    staged: DataFrame | None = None,
) -> DataFrame:
    """Fixture events -> Ogg (GoldenGate) JSON, the shape Flink's
    ``ogg-json`` format consumes: one envelope per EVENT; ``op_type`` is
    I/U/D; ``op_ts``/``current_ts`` are formatted timestamps; ``pos`` is a
    zero-padded, lexically ordered trail position (the GoldenGate analog of
    a binlog offset).
    ``staged``: see events_to_changelog_json."""
    db, table = _safe(db, "db"), _safe(table, "table")
    s = _staged(events) if staged is None else staged
    ts_str = "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
    envelope = (
        "to_json(struct("
        f"'{db}.{table}' AS table,"
        " CASE WHEN __app_op = 'delete' THEN 'D'"
        " WHEN __live THEN 'U' ELSE 'I' END AS op_type,"
        f" {ts_str} AS op_ts, {ts_str} AS current_ts,"
        " lpad(cast(event_id as string), 20, '0') AS pos,"
        " array('user_id') AS primary_keys,"
        " CASE WHEN (__app_op = 'delete') OR __live"
        " THEN __prev_payload END AS before,"
        " CASE WHEN NOT (__app_op = 'delete')"
        " THEN __payload END AS after))"
    )
    return s.select(F.expr(envelope).alias("value"))


def parse_ogg_json(
    raw: DataFrame,
    value_col: str = "value",
    payload_schema: T.StructType = EVENT_PAYLOAD_SCHEMA,
) -> DataFrame:
    """Ogg JSON -> typed changelog rows with ``row_kind``: I -> +I from
    ``after``, D -> -D from ``before``, U -> (-U from ``before``, +U from
    ``after``) — the same expansion Flink's ogg-json format performs."""
    value_col = _safe_ident(value_col, "value_col")
    p = _payload_ddl(payload_schema)
    ddl = (
        "table string, op_type string, op_ts string, current_ts string,"
        f" pos string, primary_keys array<string>, before {p}, after {p}"
    )
    parsed = raw.select(F.expr(f"from_json({value_col}, '{ddl}')").alias("e"))
    rows = (
        "CASE WHEN e.op_type = 'D'"
        " THEN array(struct('-D' AS row_kind, e.before AS payload))"
        " WHEN e.op_type = 'U'"
        " THEN array(struct('-U' AS row_kind, e.before AS payload),"
        " struct('+U' AS row_kind, e.after AS payload))"
        " ELSE array(struct('+I' AS row_kind, e.after AS payload)) END"
    )
    ex = parsed.withColumn("__r", F.explode(F.expr(rows)))
    return ex.selectExpr(
        *[f"__r.payload.`{f.name}` AS `{f.name}`" for f in payload_schema.fields],
        "__r.row_kind AS row_kind",
    )


def parse_maxwell_json(
    raw: DataFrame,
    value_col: str = "value",
    payload_schema: T.StructType = EVENT_PAYLOAD_SCHEMA,
) -> DataFrame:
    """Maxwell JSON -> typed changelog rows with ``row_kind``. The UPDATE
    before-image is ``data`` overlaid with the sparse ``old`` (per-field
    coalesce) — the standard Maxwell reconstruction, with its standard
    caveat that a column changed TO null is indistinguishable from an
    unchanged one (the fixture has no null payloads)."""
    value_col = _safe_ident(value_col, "value_col")
    p = _payload_ddl(payload_schema)
    ddl = (
        "database string, table string, type string, ts bigint, xid bigint,"
        f" data {p}, old {p}"
    )
    parsed = raw.select(F.expr(f"from_json({value_col}, '{ddl}')").alias("e"))
    before = (
        "struct("
        + ",".join(
            f"coalesce(e.old.`{f.name}`, e.data.`{f.name}`) AS `{f.name}`"
            for f in payload_schema.fields
        )
        + ")"
    )
    rows = (
        "CASE WHEN e.type = 'delete'"
        " THEN array(struct('-D' AS row_kind, e.data AS payload))"
        " WHEN e.type = 'update'"
        f" THEN array(struct('-U' AS row_kind, {before} AS payload),"
        " struct('+U' AS row_kind, e.data AS payload))"
        " ELSE array(struct('+I' AS row_kind, e.data AS payload)) END"
    )
    ex = parsed.withColumn("__r", F.explode(F.expr(rows)))
    return ex.selectExpr(
        *[f"__r.payload.`{f.name}` AS `{f.name}`" for f in payload_schema.fields],
        "__r.row_kind AS row_kind",
    )
