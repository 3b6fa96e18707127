"""Changelog data model: the Debezium-style envelope and the op convention.

The reference consumes Kafka-Connect ``SourceRecord``s carrying the Debezium
envelope ``{before, after, source, op, ts_ms}`` and turns them into rows
tagged with a RowKind (reference:
flink-connector-debezium/src/main/java/com/ververica/cdc/debezium/table/
RowDataDebeziumDeserializeSchema.java:118-146, and the JSON wire format in
JsonDebeziumDeserializationSchema.java). Spark-side, the changelog is just a
DataFrame with an explicit ``op`` column plus ``before``/``after`` structs;
everything downstream (normalize, merge, aggregate) is ordinary DataFrame
code.

Fixture convention (documented in SURVEY.md / FIXTURES.md): the ``events``
table simulates a single-table binlog. ``(ts, event_id)`` is the total
offset order (the BinlogOffset.compareTo analog, reference:
flink-connector-mysql-cdc/.../source/offset/BinlogOffset.java:173-255);
``user_id`` is the primary key of the captured table. The generator emits
app-style ``event_type`` values, so the engine pins a deterministic op
mapping:

    signup -> insert ('c')    error -> delete ('d')    anything else -> update ('u')

A key's *current state* is its latest non-delete event in offset order.

The envelope schema is PARAMETERIZED by a per-table payload ``StructType``
(:func:`make_envelope_schema`) — the reference deserializes arbitrary
per-table schemas, including nested ROW/ARRAY/MAP (MongoDB:
MongoDBConnectorDeserializationSchema.java:220-265); Spark's ``from_json``
recurses over any ``StructType`` the same way. ``EVENT_PAYLOAD_SCHEMA`` is
just the fixture events table's instance of that parameter.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Names interpolated into the single-parse SQL strings must be inert under
# the SQL lexer (shared with sources/formats.py, which imports these):
# db/table land inside quoted string literals, the value column is a bare
# identifier, and payload field names are backtick-quoted inside the
# from_json DDL literal.
_SAFE_SQL_NAME = re.compile(r"^[A-Za-z0-9_.$-]+$")
_SQL_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _safe(name: str, what: str) -> str:
    if not _SAFE_SQL_NAME.match(name):
        raise ValueError(
            f"{what} {name!r} is interpolated into a SQL string literal and "
            "must match [A-Za-z0-9_.$-]+"
        )
    return name


def _safe_ident(name: str, what: str) -> str:
    if not _SQL_IDENT.match(name):
        raise ValueError(
            f"{what} {name!r} is interpolated into SQL as an identifier and "
            "must match [A-Za-z_][A-Za-z0-9_]*"
        )
    return name


def _payload_ddl(dt: T.DataType) -> str:
    """A payload type as a DDL fragment for from_json SQL strings — parses
    to the same type object. Every struct field name, at every nesting
    level, is backtick-quoted so a keyword, dot or dash parses as a name;
    backticks would close that quoting, and quotes or backslashes would end
    or escape the SQL string literal the DDL sits in, so they are rejected."""
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            if any(ch in f.name for ch in "`'\\"):
                raise ValueError(
                    f"payload field {f.name!r} cannot carry a backtick, "
                    "quote or backslash"
                )
        fields = ",".join(f"`{f.name}`:{_payload_ddl(f.dataType)}" for f in dt.fields)
        return f"struct<{fields}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_payload_ddl(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_payload_ddl(dt.keyType)},{_payload_ddl(dt.valueType)}>"
    return dt.simpleString()

# Maps the fixture's event_type to a changelog op. Kept as a plain dict so
# both the Column expression and oracle SQL are generated from one place.
EVENT_TYPE_TO_OP = {"signup": "insert", "error": "delete"}
DEFAULT_OP = "update"

# Debezium op codes (reference RowDataDebeziumDeserializeSchema.java:118-146):
# c/r -> INSERT(+I), u -> UPDATE (-U/+U pair in 'all' mode), d -> DELETE(-D).
OP_TO_DEBEZIUM = {"insert": "c", "update": "u", "delete": "d"}

# Payload-side column names are the per-table schema; these metadata names
# are appended by the parser and therefore reserved.
METADATA_COLUMNS = ("op", "ts", "event_id", "database_name", "table_name", "op_ts", "row_kind")

# The single-table payload carried in before/after for the events fixture.
EVENT_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("file", T.StringType()),
        T.StructField("pos", T.LongType()),
    ]
)


def make_envelope_schema(payload_schema: T.StructType) -> T.StructType:
    """Debezium JSON envelope for one table's payload schema.

    The reference builds one deserializer per captured table from its
    schema history (RowDataDebeziumDeserializeSchema createConverter
    recursion; MongoDB nested ROW/ARRAY/MAP:
    MongoDBConnectorDeserializationSchema.java:220-265). ``from_json``
    recurses over arbitrary StructType the same way, so nested payloads
    need no extra code here.
    """
    return T.StructType(
        [
            T.StructField("before", payload_schema),
            T.StructField("after", payload_schema),
            T.StructField("source", _SOURCE_SCHEMA),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )


# Envelope instance for the events fixture (back-compat export).
DEBEZIUM_ENVELOPE_SCHEMA = make_envelope_schema(EVENT_PAYLOAD_SCHEMA)


def op_col(event_type: Column | str = "event_type") -> Column:
    """event_type -> op ('insert'/'update'/'delete') as a Column expression."""
    c = F.col(event_type) if isinstance(event_type, str) else event_type
    expr = F.lit(DEFAULT_OP)
    for etype, op in EVENT_TYPE_TO_OP.items():
        expr = F.when(c == etype, F.lit(op)).otherwise(expr)
    return expr


def op_sql(event_type: str = "event_type") -> str:
    """Same mapping as :func:`op_col`, as ANSI SQL (for DuckDB oracles)."""
    whens = " ".join(
        f"WHEN {event_type} = '{etype}' THEN '{op}'"
        for etype, op in EVENT_TYPE_TO_OP.items()
    )
    return f"CASE {whens} ELSE '{DEFAULT_OP}' END"


def changelog_view(events: DataFrame) -> DataFrame:
    """The events fixture as a changelog: op column + offset columns.

    Output: (op, user_id, value, props, ts, event_id) where (ts, event_id)
    is the total offset order.
    """
    return events.select(
        op_col().alias("op"),
        "user_id",
        "value",
        "props",
        "ts",
        "event_id",
    )


def events_to_debezium_json(
    events: DataFrame,
    db: str = "app",
    table: str = "events",
    min_pos: int | None = None,
) -> DataFrame:
    """Wrap fixture events into Debezium-envelope JSON strings.

    The fixture's event stream is APP-level — an upsert stream in which
    'insert' may hit an existing key and 'delete' a missing one (exactly the
    shape the reference's MongoDB connector ingests: no reliable
    before-image, upsert semantics). A database BINLOG is state-aware and
    its UPDATE_BEFORE always carries the pre-update row image
    (RowDataDebeziumDeserializeSchema.java:118-146), so the generator
    replays per-key state with one lag window and emits what the database
    would actually log:

        app op          live row?   emitted op   before        after
        insert/update   yes         u            prev image    this payload
        insert/update   no          c            null          this payload
        delete          yes         d            prev image    null
        delete          no          (dropped — a database cannot log a
                                     delete of a row that does not exist)

    'live' = the key's previous event exists and was not a delete (an
    insert/update always sets the full row image, so the previous event's
    payload IS the current image).

    Scale: one hash shuffle on the primary key for the lag window — the
    partitioning every downstream normalize/merge reuses.

    ``min_pos``: serialize only events past this position. The lag state
    machine still replays EVERY key's full history (the window runs before
    the filter, so before-images at the boundary stay correct), but
    earlier events never pay the to_json codec — the production shape,
    where a consumer starting at a Kafka offset never sees (or parses)
    the bytes before it. This is the envelope family's dominant cost at
    scale: the codec is linear in serialized rows, not in log rows.

    Round 13: built as single-parse selectExpr calls (this helper fronts
    a dozen tier-A keys, ~45 Column-API gateway calls each before).
    Values and wire bytes unchanged (oracle- and test-pinned).
    """
    db, table = _safe(db, "db"), _safe(table, "table")
    app_op = op_sql()
    over = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    # Materialize lag columns before building the to_json struct (window
    # expressions cannot nest inside generators/struct literals).
    staged = events.selectExpr(
        "*",
        f"{app_op} AS __app_op",
        f"lag(struct(user_id, value, props)) {over} AS __prev_payload",
        f"lag({app_op}) {over} AS __prev_op",
    )
    live = "(__prev_op IS NOT NULL AND __prev_op <> 'delete')"
    valid = f"(__app_op <> 'delete' OR {live})"
    if min_pos is not None:
        valid = f"({valid} AND event_id > {int(min_pos)})"
    return staged.filter(valid).selectExpr(
        f"""to_json(struct(
          CASE WHEN {live} THEN __prev_payload END AS before,
          CASE WHEN __app_op <> 'delete'
               THEN struct(user_id, value, props) END AS after,
          struct('{db}' AS db, '{table}' AS table, unix_millis(ts) AS ts_ms,
                 'binlog.000001' AS file, event_id AS pos) AS source,
          CASE WHEN __app_op = 'delete' THEN 'd'
               WHEN {live} THEN 'u' ELSE 'c' END AS op,
          unix_millis(ts) AS ts_ms)) AS value"""
    )


def snapshot_to_debezium_json(
    df: DataFrame,
    payload_cols: list[Column],
    pos_col: str,
    db: str,
    table: str,
    ts_col: str | None = None,
) -> DataFrame:
    """Snapshot-phase envelope for an arbitrary table: one op='r' READ
    record per row, before=null (the reference's snapshot reader emits READ
    ops decoded via the same converter as streamed changes —
    RowDataDebeziumDeserializeSchema.java:118-124, snapshot task
    MySqlSnapshotSplitReadTask.java).

    ``payload_cols`` are arbitrary Column expressions (nested structs/arrays
    allowed — alias each) forming the after-image; ``pos_col`` supplies the
    monotonic offset position; ``ts_col`` the source timestamp (0 when the
    table has none, as in a pure snapshot read).
    """
    ts_ms = F.unix_millis(F.col(ts_col)) if ts_col else F.lit(0).cast("long")
    envelope = F.struct(
        F.struct(*payload_cols).alias("after"),
        F.struct(
            F.lit(db).alias("db"),
            F.lit(table).alias("table"),
            ts_ms.alias("ts_ms"),
            F.lit("snapshot").alias("file"),
            F.col(pos_col).cast("long").alias("pos"),
        ).alias("source"),
        F.lit("r").alias("op"),
        ts_ms.alias("ts_ms"),
    )
    return df.select(F.to_json(envelope).alias("value"))


HEARTBEAT_OP = "h"


def heartbeat_envelopes(
    events: DataFrame,
    interval_ms: int,
    db: str = "app",
    table: str = "events",
) -> DataFrame:
    """Periodic heartbeat records carrying the log's latest position — the
    Debezium heartbeat the reference enables via ``heartbeat.interval``
    (MySqlSourceOptions.java:187-192) so an idle captured table's committed
    offset keeps advancing while OTHER tables churn the binlog (otherwise
    the stale offset falls off binlog retention and restore fails).

    One heartbeat per ``interval_ms`` bucket of the log's time range, with
    ``source.pos`` = the highest log position at or before the bucket end
    (cumulative max). Heartbeats carry no row images (before/after null) —
    consumers advance offsets and drop them (RecordUtils.isHeartbeatEvent;
    the emitter updates split state without emitting downstream).

    Scale: the aggregation reduces the log to one row per interval before
    the cumulative-max window, so the windowed data is #buckets (time range
    / interval) — bounded and tiny regardless of log size."""
    b = events.select(F.unix_millis("ts").alias("ts_ms"), "event_id")
    agg = b.groupBy((F.col("ts_ms") / interval_ms).cast("long").alias("hb")).agg(
        F.max("event_id").alias("bucket_max")
    )
    w = (
        Window.orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = agg.withColumn("pos", F.max("bucket_max").over(w))
    hb_ts = (F.col("hb") + 1) * interval_ms
    envelope = F.struct(
        F.lit(None).cast(EVENT_PAYLOAD_SCHEMA).alias("before"),
        F.lit(None).cast(EVENT_PAYLOAD_SCHEMA).alias("after"),
        F.struct(
            F.lit(db).alias("db"),
            F.lit(table).alias("table"),
            hb_ts.alias("ts_ms"),
            F.lit("binlog.000001").alias("file"),
            F.col("pos").alias("pos"),
        ).alias("source"),
        F.lit(HEARTBEAT_OP).alias("op"),
        hb_ts.alias("ts_ms"),
    )
    return cum.select(F.to_json(envelope).alias("value"))


def committed_offset(raw: DataFrame, value_col: str = "value") -> int:
    """The restartable position of an envelope stream INCLUDING heartbeats
    — max source.pos over every record. For an idle table whose stream
    carries heartbeats, this keeps advancing past the last data row (the
    exact property heartbeat.interval exists for)."""
    pos = F.get_json_object(F.col(value_col), "$.source.pos").cast("long")
    row = raw.agg(F.max(pos).alias("p")).first()
    return -1 if row["p"] is None else int(row["p"])


def route_tables(envelope_rows: DataFrame) -> dict[tuple[str, str], DataFrame]:
    """Split a mixed multi-table changelog into per-table DataFrames.

    The reference captures many tables through one source (database/table
    regex lists, TableDiscoveryUtils; one binlog carries them all) and
    routes rows by the envelope's ``source.db``/``source.table``. Input:
    parsed rows with ``database_name``/``table_name`` columns. Output keyed
    by (db, table). The driver-side distinct is over table names only —
    tiny — and each per-table DataFrame is a filter the scan pushes down.
    """
    tables = [
        (r["database_name"], r["table_name"])
        for r in envelope_rows.select("database_name", "table_name").distinct().collect()
    ]
    return {
        (db, tb): envelope_rows.filter(
            (F.col("database_name") == db) & (F.col("table_name") == tb)
        )
        for db, tb in sorted(tables)
    }


# Payload field types the VARIANT decode engine handles: atomic types
# whose `try_variant_get` cast is value-identical to the Jackson struct
# decode (A/B-pinned by tests/test_formats.py). Decimals, timestamps and
# nested payload types are rejected — their JSON-number/string coercion
# rules differ between the two decoders in corner cases.
#
# MEASURED VERDICT (sf10 = 10M rows, pinned wire, min-of-2): the Jackson
# ``from_json`` decode of the full envelope runs 4.1-5.1 s; the VARIANT
# path (one try_parse_json + 13 typed gets + 2 null guards) runs
# 8.2-9.5 s — per-get traversal cost exceeds one Jackson pass once the
# extraction is this wide, and Catalyst's OptimizeJsonExprs already
# prunes the from_json schema to the consumed fields, so narrow
# consumers get the narrow parse WITHOUT switching decoders. VARIANT
# only led in a 3-field microbench against an UNPRUNED full-schema
# from_json (whole-struct select defeats pruning) — a measurement
# artifact, not a win. Hence engine='auto' resolves to Jackson; the
# variant engine stays available explicitly, value-identical by the
# A/B pin, for narrow-extraction experiments.
_VARIANT_SAFE_TYPES = (
    T.StringType,
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
)


def _variant_safe(payload_schema: T.StructType) -> bool:
    # field names become JSON-path segments, where a dot would nest
    return all(
        isinstance(f.dataType, _VARIANT_SAFE_TYPES) and _SQL_IDENT.match(f.name)
        for f in payload_schema.fields
    )


def _variant_envelope(v: Column, payload_schema: T.StructType) -> Column:
    """The envelope struct via Spark's VARIANT JSON path: typed
    ``try_variant_get`` per consumed field over an ALREADY-PARSED variant
    column — no Jackson re-lexing per field. ``v`` MUST be a materialized
    variant column (a previous projection's ``try_parse_json`` output),
    not an inline ``try_parse_json(...)`` expression: the payload gets
    sit under ``when`` guards, which excludes them from whole-stage
    subexpression elimination, so an inline parse would re-parse the
    record once PER GET (a further ~20% on top of the staged form; with
    the parse in its own projection — which CollapseProject keeps
    separate because the expression is non-cheap and multiply referenced
    — the gets are binary traversals). Even staged, this path measured
    SLOWER than the pruned Jackson decode at every width tried (see
    _VARIANT_SAFE_TYPES) — it exists as an explicitly-selected engine,
    not the default.
    Output is shaped exactly like ``from_json(make_envelope_schema(...))``:
    a missing or JSON-null ``before``/``after`` is a NULL struct (not a
    struct of NULLs), so downstream ``isNull`` probes behave identically."""

    def payload(path: str) -> Column:
        node = F.try_variant_get(v, path, "variant")
        gets = F.struct(
            *[
                F.try_variant_get(
                    v, f"{path}.{f.name}", f.dataType.simpleString()
                ).alias(f.name)
                for f in payload_schema.fields
            ]
        )
        return F.when(node.isNotNull() & ~F.is_variant_null(node), gets)

    source = F.struct(
        *[
            F.try_variant_get(
                v, f"$.source.{f.name}", f.dataType.simpleString()
            ).alias(f.name)
            for f in _SOURCE_SCHEMA.fields
        ]
    )
    return F.struct(
        payload("$.before").alias("before"),
        payload("$.after").alias("after"),
        source.alias("source"),
        F.try_variant_get(v, "$.op", "string").alias("op"),
        F.try_variant_get(v, "$.ts_ms", "long").alias("ts_ms"),
    )


def parse_debezium_json(
    raw: DataFrame,
    value_col: str = "value",
    mode: str = "upsert",
    payload_schema: T.StructType = EVENT_PAYLOAD_SCHEMA,
    engine: str = "auto",
) -> DataFrame:
    """Debezium JSON -> typed changelog rows (the deserializer).

    ``payload_schema`` is the captured table's row schema (nested types
    recurse through ``from_json``); output = one column per payload field
    plus the reserved metadata columns (``METADATA_COLUMNS``).

    ``mode='upsert'`` (DebeziumChangelogMode.upsert — one row per event):
    READ/CREATE -> +I from ``after``; DELETE -> -D from ``before``;
    UPDATE -> +U from ``after``. ``mode='all'`` (retract — what MySQL
    always emits, MySqlTableSource.java:149): UPDATE additionally emits the
    -U row from ``before``, with a ``row_kind`` column ('+I','-U','+U',
    '-D'). Reference: RowDataDebeziumDeserializeSchema.java:118-158;
    DebeziumChangelogMode.java.

    ``engine``: ``'auto'`` (default) resolves to the Jackson
    ``from_json`` — measured FASTER than the VARIANT path at every
    extraction width on this build, because Catalyst prunes the
    from_json schema to the consumed fields while per-field variant
    gets pay a traversal each (numbers in the _VARIANT_SAFE_TYPES
    comment). ``'variant'`` forces the ``_variant_envelope`` path
    (flat atomic payloads only; raises otherwise) — kept for
    narrow-extraction experiments, A/B-pinned value-identical to
    Jackson on the fixture wires; ``'jackson'`` forces from_json.
    """
    if mode not in ("upsert", "all"):
        raise ValueError(f"mode must be 'upsert' or 'all', got {mode!r}")
    if engine not in ("auto", "jackson", "variant"):
        raise ValueError(f"engine must be auto/jackson/variant, got {engine!r}")
    overlap = set(f.name for f in payload_schema.fields) & set(METADATA_COLUMNS)
    if overlap:
        raise ValueError(f"payload fields collide with metadata columns: {sorted(overlap)}")
    if engine == "variant" and not _variant_safe(payload_schema):
        raise ValueError(
            "engine='variant' supports flat atomic payload schemas with "
            "identifier field names only; use engine='auto' to fall back to "
            "from_json"
        )
    use_variant = engine == "variant"
    value_col = _safe_ident(value_col, "value_col")
    p = _payload_ddl(payload_schema)
    # ONE full-schema parse materialized as a struct column, shared by
    # every downstream field access (whole-stage codegen evaluates it
    # once per row — the BASELINE round-6 CSE measurement). Deliberately
    # NOT restructured for OptimizeJsonExprs schema pruning: pruning only
    # fires with the parse INLINED per output column, which yields one
    # differently-pruned from_json per field and re-lexes the record per
    # parse — measured 22.5 s vs 6.5 s for this form on a 15M-row nested
    # consumer at the sf10 ladder point (lexing dominates; a pruned parse
    # saves only materialization). Narrow consumers that want a narrow
    # parse pass a payload_schema restricted to the fields they read —
    # call-site pruning, the cdc_changelog_mode_upsert pattern.
    #
    # Heartbeats advance offsets but are never emitted as data rows
    # (RecordUtils.isHeartbeatEvent -> update split state, no emit);
    # track them via committed_offset() on the RAW stream.
    #
    # Round 13: the Jackson path builds as single-parse selectExpr calls
    # (the envelope DDL string parses to the same StructType the
    # make_envelope_schema object carried) — this decoder fronts a dozen
    # tier-A keys at ~60 Column-API gateway calls each before.
    if use_variant:
        # the parse lives in its OWN projection (see _variant_envelope:
        # CollapseProject keeps it separate, so the record parses once
        # and the typed gets traverse the materialized variant binary)
        staged = raw.select(F.try_parse_json(F.col(value_col)).alias("__v"))
        parsed = staged.select(
            _variant_envelope(F.col("__v"), payload_schema).alias("e")
        ).filter(F.col("e.op") != HEARTBEAT_OP)
    else:
        env_ddl = (
            f"before {p}, after {p},"
            " source struct<db:string,table:string,ts_ms:bigint,"
            "file:string,pos:bigint>, op string, ts_ms bigint"
        )
        parsed = raw.selectExpr(
            f"from_json({value_col}, '{env_ddl}') AS e"
        ).filter(f"e.op <> '{HEARTBEAT_OP}'")
    if mode == "upsert":
        kind_rows = (
            "array(struct("
            "CASE WHEN e.op IN ('c', 'r') THEN '+I'"
            " WHEN e.op = 'd' THEN '-D' ELSE '+U' END AS row_kind,"
            " CASE WHEN e.op = 'd' THEN e.before ELSE e.after END AS payload))"
        )
    else:
        kind_rows = (
            "CASE WHEN e.op IN ('c', 'r')"
            " THEN array(struct('+I' AS row_kind, e.after AS payload))"
            " WHEN e.op = 'd'"
            " THEN array(struct('-D' AS row_kind, e.before AS payload))"
            " ELSE array(struct('-U' AS row_kind, e.before AS payload),"
            " struct('+U' AS row_kind, e.after AS payload)) END"
        )
    exploded = parsed.selectExpr("*", f"explode({kind_rows}) AS __k")
    out = exploded.selectExpr(
        "CASE WHEN e.op IN ('c', 'r') THEN 'insert'"
        " WHEN e.op = 'd' THEN 'delete' ELSE 'update' END AS op",
        *[f"__k.payload.`{f.name}` AS `{f.name}`" for f in payload_schema.fields],
        "timestamp_millis(e.ts_ms) AS ts",
        "e.source.pos AS event_id",
        "e.source.db AS database_name",
        "e.source.table AS table_name",
        "timestamp_millis(e.source.ts_ms) AS op_ts",
        "__k.row_kind AS row_kind",
    )
    return out.drop("row_kind") if mode == "upsert" else out


# Persist strategy for the multi-table route cache — the round-9 A/B knob
# (see the cache branch below). Values: "cache" (winner) | "checkpoint".
_MULTI_PERSIST = "cache"


def parse_debezium_json_multi(
    raw: DataFrame,
    schemas: dict[tuple[str, str], T.StructType],
    value_col: str = "value",
    mode: str = "upsert",
    cache: bool = False,
) -> dict[tuple[str, str], DataFrame]:
    """Route a MIXED multi-table envelope stream and decode each table with
    its own payload schema.

    The reference streams many tables through one binlog and picks the
    per-table deserializer by source db/table (TableDiscoveryUtils;
    sharding ITCase MySqlConnectorITCase.java:1294-1336). The route key is
    extracted from the raw JSON with ONE ``from_json`` against a
    source-only pruned schema (the analog of reading the record header —
    one Jackson pass yielding both keys; the earlier two-``get_json_object``
    form lexed every record twice just to route, the same
    re-parse-per-path cost the round-5 mongo_update_lookup fix removed),
    then each table's slice is decoded against its declared StructType.
    Unknown tables are ignored, exactly like rows outside the
    captured-table list.

    ``cache=True`` persists the route-keyed stream so N table consumers
    read the (possibly expensive to produce) input once — the multi-sink
    fan-out pattern; in production the changelog is already materialized in
    the log/topic, making this a no-op.
    """
    value_col = _safe_ident(value_col, "value_col")
    routed = raw.selectExpr(
        value_col,
        f"from_json({value_col},"
        " 'source struct<db:string,table:string>') AS __route",
    ).selectExpr(
        value_col,
        "__route.source.db AS __route_db",
        "__route.source.table AS __route_tb",
    )
    if cache:
        # cache() vs localCheckpoint(eager): A/B'd on the 25M-record route
        # at the 100x point (BASELINE.md round-9 codec experiment) —
        # indistinguishable (mins 37.2 s vs 38.3 s across two interleaved
        # sessions; run-to-run noise >> the delta). cache() stays the
        # default: same bytes re-read by both consumers either way, and in
        # production the changelog is already materialized in the
        # log/topic, making this persist a no-op. _MULTI_PERSIST keeps the
        # experiment re-runnable.
        if _MULTI_PERSIST == "checkpoint":
            routed = routed.localCheckpoint(eager=True)
        else:
            routed = routed.cache()
    return {
        (db, tb): parse_debezium_json(
            routed.filter(
                (F.col("__route_db") == db) & (F.col("__route_tb") == tb)
            ),
            value_col,
            mode,
            schema,
        )
        for (db, tb), schema in sorted(schemas.items())
    }
