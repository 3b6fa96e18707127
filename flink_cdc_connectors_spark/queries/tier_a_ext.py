"""Tier A extensions — per-connector capture formats as checkable queries.

The reference ships eight database connectors whose *capture models* differ
even though every one converges on the same changelog semantics:

  - Oracle: LogMiner redo-SQL mining (`flink-connector-oracle-cdc`,
    OracleSource.java builds a Debezium LogMiner engine; the raw capture
    artifact is V$LOGMNR_CONTENTS SQL_REDO text),
  - SQL Server: change-table polling (`flink-connector-sqlserver-cdc`,
    SqlServerSource.java — Debezium reads `cdc.<instance>_CT` tables whose
    rows carry `__$operation` 1/2/3/4 and `__$start_lsn`/`__$seqval`),
  - Db2: SQL-Replication capture tables (`flink-connector-db2-cdc`,
    Db2Source.java — CD tables keyed by IBMSNAP_COMMITSEQ/IBMSNAP_INTENTSEQ
    with IBMSNAP_OPERATION I/U/D and commit-boundary visibility),
  - MongoDB: change streams (`flink-connector-mongodb-cdc`,
    MongoDBSource.java:55 FULL_DOCUMENT_UPDATE_LOOKUP — update events carry
    an `updateDescription` field patch, not a full row image),
  - Postgres: logical-decoding plugins (`flink-connector-postgres-cdc`,
    PostgreSQLTableFactory.java:88-94 — wal2json emits positional
    `columnnames`/`columnvalues` arrays per change),
  - OceanBase: logproxy LogMessage stream with BEGIN/COMMIT framing
    (`flink-connector-oceanbase-cdc`,
    OceanBaseRichSourceFunction.java:313-345 — DMLs buffer until COMMIT
    flushes them, i.e. commit-order visibility).

Each query here synthesizes the connector's native capture artifact from
the deterministic ``events`` fixture (same binlog state machine as
``sources/envelope.py``), then implements the DECODE + changelog
reconstruction Spark-first. The DuckDB oracle states the end-to-end
semantics directly over ``events`` — a wrong parse/fold cannot match it.

Scale notes: every query is one narrow generate stage (pure column
expressions; the capture artifact is a projection of the scanned row) plus
the same per-key lag/window shuffle the normalize family uses — one hash
exchange on the primary key, reused by the downstream fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_cdc_connectors_spark.registry import query
from flink_cdc_connectors_spark.sources.envelope import op_sql
from flink_cdc_connectors_spark.sources.loaders import load_table

# Cents conversion used everywhere a float would otherwise ride a string
# format (engine float->string formatting differs; integer cents do not).
# floor(x*100 + 0.5) instead of round(): Spark rounds HALF_UP, DuckDB
# HALF_EVEN — floor(+0.5) is identical in both.
def _cents_sql(col: str = "value") -> str:
    return f"CAST(floor({col} * 100 + 0.5) AS BIGINT)"


# The database-side log state machine (same contract as
# envelope.events_to_debezium_json): replay per-key state with one lag
# window; emit what the database would actually log.
#
#   app op          live row?   logged op   before image
#   insert/update   yes         update      prev payload
#   insert/update   no          insert      -
#   delete          yes         delete      prev payload
#   delete          no          (dropped)
_LOGGED_SQL = f"""
  SELECT event_id, ts, user_id,
         {_cents_sql()}                                 AS cents,
         {_cents_sql("prev_value")}                     AS prev_cents,
         CAST(json_extract_string(props, '$.k') AS BIGINT)      AS k_val,
         CAST(json_extract_string(prev_props, '$.k') AS BIGINT) AS prev_k,
         CASE WHEN app_op = 'delete' THEN 'delete'
              WHEN live THEN 'update' ELSE 'insert' END AS op
  FROM (
    SELECT event_id, ts, user_id, value, props,
           {op_sql()} AS app_op,
           lag(value) OVER w AS prev_value,
           lag(props) OVER w AS prev_props,
           (lag({op_sql()}) OVER w IS NOT NULL
            AND lag({op_sql()}) OVER w <> 'delete') AS live
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  )
  WHERE NOT (app_op = 'delete' AND NOT live)
"""


def _logged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _LOGGED_SQL: the database-log view of the fixture.

    Output: (event_id, ts, user_id, cents, prev_cents, k_val, prev_k, op)
    with op in insert/update/delete and before-images for update/delete.
    One hash shuffle on the PK (the lag window); everything else is
    projection.

    Round 13: built as three single-parse selectExpr/filter calls instead
    of the withColumn chain (~25 gateway round trips + one eager
    re-analysis per withColumn) — this helper fronts eight tier-A keys,
    so its construction cost is paid ~8x per bench pass.  The lag
    expressions carry the identical window spec, so they land in ONE
    Window operator exactly as the `.over(w)` chain did; values are
    unchanged (the 160-key oracle sweep covers every consumer).
    """
    app_op = op_sql()
    over = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    staged = load_table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "ts",
        "user_id",
        "value",
        "props",
        f"{app_op} AS app_op",
        f"lag(value) {over} AS prev_value",
        f"lag(props) {over} AS prev_props",
        f"lag({app_op}) {over} AS prev_op",
    )
    return staged.filter(
        "NOT (app_op = 'delete'"
        " AND NOT (prev_op IS NOT NULL AND prev_op <> 'delete'))"
    ).selectExpr(
        "event_id",
        "ts",
        "user_id",
        f"{_cents_sql()} AS cents",
        f"{_cents_sql('prev_value')} AS prev_cents",
        "CAST(get_json_object(props, '$.k') AS BIGINT) AS k_val",
        "CAST(get_json_object(prev_props, '$.k') AS BIGINT) AS prev_k",
        "CASE WHEN app_op = 'delete' THEN 'delete'"
        " WHEN prev_op IS NOT NULL AND prev_op <> 'delete' THEN 'update'"
        " ELSE 'insert' END AS op",
    )


# ---------------------------------------------------------------------------
# Oracle LogMiner: redo-SQL text -> changelog
# ---------------------------------------------------------------------------


@query(
    "cdc_logminer_redo",
    tier="A",
    oracle=f"""
    WITH logged AS ({_LOGGED_SQL})
    SELECT user_id, event_id AS last_scn, cents AS value_cents
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM logged)
    WHERE rn = 1 AND op <> 'delete'
    """,
)
def cdc_logminer_redo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle LogMiner capture: synthesize V$LOGMNR_CONTENTS-style SQL_REDO
    statements from the fixture log, then PARSE them back into typed
    changelog rows and reconstruct latest state (the decode path the
    reference delegates to Debezium's LogMiner processor —
    flink-connector-oracle-cdc/OracleSource.java builds that engine;
    docs/content/connectors/oracle-cdc.md documents LogMiner as the capture
    mechanism).

    Spark-first: redo TEXT is generated and re-parsed entirely with
    JVM-side concat/regexp expressions (no Python); the only shuffles are
    the per-key lag window and the final latest-state window — both on the
    PK, so at 100 TB this is the normalize plan plus a free map stage.
    The DuckDB oracle states the end-to-end semantics directly; a wrong
    regex or a dropped quote cannot hash-match.
    """
    logged = _logged(spark, sf_dir)
    redo = logged.select(
        F.col("event_id").alias("scn"),
        F.col("ts"),
        F.when(
            F.col("op") == "insert",
            F.concat(
                F.lit('insert into "APP"."EVENTS"("USER_ID","VALUE_CENTS") values (\''),
                F.col("user_id"),
                F.lit("','"),
                F.col("cents"),
                F.lit("');"),
            ),
        )
        .when(
            F.col("op") == "update",
            F.concat(
                F.lit('update "APP"."EVENTS" set "VALUE_CENTS" = \''),
                F.col("cents"),
                F.lit("' where \"USER_ID\" = '"),
                F.col("user_id"),
                F.lit("';"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('delete from "APP"."EVENTS" where "USER_ID" = \''),
                F.col("user_id"),
                F.lit("';"),
            )
        )
        .alias("sql_redo"),
    )
    # --- the operator under test: parse redo text back into (op, key, val)
    parsed_op = F.regexp_extract("sql_redo", r"^(insert|update|delete)", 1)
    user_id = (
        F.when(
            parsed_op == "insert",
            F.regexp_extract("sql_redo", r"values \('([0-9]+)'", 1),
        )
        .otherwise(F.regexp_extract("sql_redo", r'"USER_ID" = \'([0-9]+)\'', 1))
        .cast("long")
    )
    cents = (
        F.when(
            parsed_op == "insert",
            F.regexp_extract("sql_redo", r"values \('[0-9]+','(-?[0-9]+)'\)", 1),
        )
        .when(
            parsed_op == "update",
            F.regexp_extract("sql_redo", r'"VALUE_CENTS" = \'(-?[0-9]+)\'', 1),
        )
        .otherwise(F.lit(None))
        .cast("long")
    )
    parsed = redo.select(
        "scn", "ts", parsed_op.alias("op"), user_id.alias("user_id"), cents.alias("value_cents")
    )
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("scn").desc())
    return (
        parsed.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "delete"))
        .select("user_id", F.col("scn").alias("last_scn"), "value_cents")
    )


# ---------------------------------------------------------------------------
# SQL Server: cdc.<instance>_CT change-table rows -> changelog
# ---------------------------------------------------------------------------


@query(
    "cdc_capture_sqlserver",
    tier="A",
    oracle=f"""
    WITH logged AS ({_LOGGED_SQL}),
    capture AS (
      -- __$operation: 1=delete, 2=insert, 3=update(before), 4=update(after)
      SELECT event_id AS lsn, user_id, 2 AS operation, cents FROM logged WHERE op = 'insert'
      UNION ALL
      SELECT event_id, user_id, 3, prev_cents FROM logged WHERE op = 'update'
      UNION ALL
      SELECT event_id, user_id, 4, cents FROM logged WHERE op = 'update'
      UNION ALL
      SELECT event_id, user_id, 1, prev_cents FROM logged WHERE op = 'delete'
    )
    SELECT user_id, lsn AS last_lsn, cents AS value_cents, n_ops
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY lsn DESC, operation DESC) AS rn,
                 CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
          FROM capture)
    WHERE rn = 1 AND operation IN (2, 4)
    """,
)
def cdc_capture_sqlserver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL Server CDC capture-table read: synthesize `cdc.<instance>_CT`
    rows (`__$operation` 1/2/3/4, `__$start_lsn`/`__$seqval` — updates are
    a 3-row/4-row pair sharing one seqval) and reconstruct latest state by
    LSN replay (flink-connector-sqlserver-cdc/SqlServerSource.java ingests
    exactly these tables through Debezium;
    docs/content/connectors/sqlserver-cdc.md).

    The update pair is generated with `explode` of a conditional struct
    array (map-side 1-to-2 fan-out, no join); replay = one latest-per-key
    window ordered by (lsn, operation) — the operation tiebreak mirrors SQL
    Server's seqval ordering where the after-image (4) supersedes the
    before-image (3) at the same position. `n_ops` audits that the full
    capture table (including 3-rows and tombstones) survived the decode.
    """
    logged = _logged(spark, sf_dir)
    rows = (
        logged.withColumn(
            "__rows",
            F.when(
                F.col("op") == "insert",
                F.array(F.struct(F.lit(2).alias("operation"), F.col("cents").alias("c"))),
            )
            .when(
                F.col("op") == "update",
                F.array(
                    F.struct(F.lit(3).alias("operation"), F.col("prev_cents").alias("c")),
                    F.struct(F.lit(4).alias("operation"), F.col("cents").alias("c")),
                ),
            )
            .otherwise(
                F.array(F.struct(F.lit(1).alias("operation"), F.col("prev_cents").alias("c")))
            ),
        )
        .select(
            F.col("event_id").alias("lsn"),
            "user_id",
            F.explode("__rows").alias("r"),
        )
        .select("lsn", "user_id", F.col("r.operation").alias("operation"), F.col("r.c").alias("cents"))
    )
    w = W.partitionBy("user_id").orderBy(F.col("lsn").desc(), F.col("operation").desc())
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .withColumn("n_ops", F.count("*").over(W.partitionBy("user_id")))
        .filter((F.col("rn") == 1) & F.col("operation").isin(2, 4))
        .select("user_id", F.col("lsn").alias("last_lsn"), F.col("cents").alias("value_cents"), "n_ops")
    )


# ---------------------------------------------------------------------------
# Db2: SQL-Replication CD table with commit-boundary visibility
# ---------------------------------------------------------------------------

_DB2_TXN = 16  # events per synthetic unit-of-work (IBMSNAP_COMMITSEQ group)


@query(
    "cdc_capture_db2",
    tier="A",
    oracle=f"""
    WITH logged AS ({_LOGGED_SQL}),
    cd AS (
      SELECT event_id AS intentseq, event_id // {_DB2_TXN} AS commitseq,
             CASE op WHEN 'insert' THEN 'I' WHEN 'update' THEN 'U' ELSE 'D' END AS operation,
             user_id, cents
      FROM logged),
    synchpoint AS (
      SELECT CAST(floor(max(event_id) * 0.8) AS BIGINT) // {_DB2_TXN} AS sp FROM events)
    SELECT commitseq AS txn_id,
           CAST(count(*) FILTER (WHERE operation = 'I') AS BIGINT) AS n_i,
           CAST(count(*) FILTER (WHERE operation = 'U') AS BIGINT) AS n_u,
           CAST(count(*) FILTER (WHERE operation = 'D') AS BIGINT) AS n_d,
           CAST(count(*) FILTER (WHERE operation = 'I')
                - count(*) FILTER (WHERE operation = 'D') AS BIGINT) AS net_rows,
           min(intentseq) AS first_seq, max(intentseq) AS last_seq
    FROM cd, synchpoint
    WHERE commitseq <= sp
    GROUP BY commitseq
    """,
)
def cdc_capture_db2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Db2 SQL-Replication capture: CD-table rows keyed by
    (IBMSNAP_COMMITSEQ, IBMSNAP_INTENTSEQ) with IBMSNAP_OPERATION I/U/D,
    visible only up to the committed synchpoint — the unit-of-work
    accounting view a replication monitor reads
    (flink-connector-db2-cdc/Db2Source.java ingests these capture tables
    through Debezium's db2 connector; docs/content/connectors/db2-cdc.md).

    Spark-first: the commit boundary (80th-percentile max offset) comes
    from a one-row aggregate joined in by AQE-broadcast crossJoin — no
    collect; per-transaction accounting is a single hash aggregate on the
    synthetic COMMITSEQ. At 100 TB the CD scan prunes to
    `commitseq <= synchpoint` exactly like the reference's bounded
    capture-table poll window.
    """
    logged = _logged(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    sp = ev.agg(
        (F.floor(F.max("event_id") * 0.8).cast("long") / _DB2_TXN)
        .cast("long")
        .alias("sp")
    )
    cd = logged.select(
        F.col("event_id").alias("intentseq"),
        (F.col("event_id") / _DB2_TXN).cast("long").alias("commitseq"),
        F.when(F.col("op") == "insert", "I")
        .when(F.col("op") == "update", "U")
        .otherwise("D")
        .alias("operation"),
        "user_id",
        "cents",
    )
    return (
        cd.crossJoin(F.broadcast(sp))
        .filter(F.col("commitseq") <= F.col("sp"))
        .groupBy(F.col("commitseq").alias("txn_id"))
        .agg(
            F.count(F.when(F.col("operation") == "I", 1)).alias("n_i"),
            F.count(F.when(F.col("operation") == "U", 1)).alias("n_u"),
            F.count(F.when(F.col("operation") == "D", 1)).alias("n_d"),
            (
                F.count(F.when(F.col("operation") == "I", 1))
                - F.count(F.when(F.col("operation") == "D", 1))
            ).alias("net_rows"),
            F.min("intentseq").alias("first_seq"),
            F.max("intentseq").alias("last_seq"),
        )
    )


# ---------------------------------------------------------------------------
# MongoDB: change-stream documents with updateDescription field patches
# ---------------------------------------------------------------------------


@query(
    "cdc_mongo_changestream",
    tier="A",
    oracle=f"""
    WITH logged AS ({_LOGGED_SQL}),
    -- mongo op mapping: dead-key insert/update -> insert; live insert ->
    -- replace (full-image overwrite); live update -> update (field patch);
    -- live delete -> delete
    stream AS (
      SELECT event_id, ts, user_id, cents, k_val,
             CASE WHEN op = 'delete' THEN 'delete'
                  WHEN op = 'insert' THEN 'insert'
                  WHEN op = 'update' AND event_id % 97 = 0 THEN 'replace'
                  ELSE 'update' END AS mongo_op
      FROM logged),
    last_doc AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM stream),
    live AS (SELECT user_id, event_id AS last_eid FROM last_doc
             WHERE rn = 1 AND mongo_op <> 'delete'),
    -- field-level actions (a full image sets every field, so last-action-
    -- wins over ALL actions equals last-action at/after the last base):
    --   updates: eid%3=0 -> set value, REMOVE k; eid%3=1 -> set k only;
    --            eid%3=2 -> set both
    -- update value-actions require a non-NULL value: the JSON wire form
    -- omits NULL fields from updatedFields, so "update sets value to NULL"
    -- is inexpressible (removedFields is the NULL channel); full images DO
    -- set NULLs (the whole document replaces)
    val_actions AS (
      SELECT user_id, ts, event_id, cents AS v
      FROM stream
      WHERE mongo_op IN ('insert', 'replace')
         OR (mongo_op = 'update' AND event_id % 3 <> 1 AND cents IS NOT NULL)),
    k_actions AS (
      SELECT user_id, ts, event_id,
             CASE WHEN mongo_op = 'update' AND event_id % 3 = 0
                  THEN NULL ELSE k_val END AS k
      FROM stream
      WHERE mongo_op IN ('insert', 'replace', 'update')),
    final_v AS (
      SELECT user_id, v FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM val_actions) WHERE rn = 1),
    final_k AS (
      SELECT user_id, k FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM k_actions) WHERE rn = 1)
    SELECT l.user_id, l.last_eid, fv.v AS value_cents, fk.k AS props_k
    FROM live l
    JOIN final_v fv USING (user_id)
    JOIN final_k fk USING (user_id)
    """,
)
def cdc_mongo_changestream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MongoDB change-stream ingestion: synthesize change-stream documents
    (operationType insert/replace/update/delete; `fullDocument` only on
    insert/replace; updates carry an `updateDescription` with
    `updatedFields` + `removedFields` — the exact shape
    flink-connector-mongodb-cdc consumes; MongoDBSource.java:55 pins
    FULL_DOCUMENT_UPDATE_LOOKUP because without a lookup an update event
    has NO full image) and FOLD the field-level patches into final document
    state.

    The fold is per-(key, field) last-writer-wins: field actions (set from
    fullDocument, set from updatedFields, remove from removedFields) fold
    as running `last(..., ignorenulls)` states over ONE hash exchange on
    the parsed key — every window in the query shares that partitioning,
    so the whole patch fold is a single shuffle (a full image sets every
    field, which is why no base-image join is needed). A removedFields
    entry yields a NULL that must SURVIVE the fold (the common bug is
    coalescing it away) — it rides inside a struct so the action itself
    stays non-null; update events 0 mod 3 remove `props_k`, and the oracle
    hash locks that in.
    """
    logged = _logged(spark, sf_dir)
    stream = logged.select(
        "event_id",
        "ts",
        "user_id",
        "cents",
        "k_val",
        F.when(F.col("op") == "delete", "delete")
        .when(F.col("op") == "insert", "insert")
        .when((F.col("op") == "update") & (F.col("event_id") % 97 == 0), "replace")
        .otherwise("update")
        .alias("mongo_op"),
    )
    # ---- generate the wire documents (what mongod would hand the client)
    upd_sets = F.when(
        F.col("event_id") % 3 == 0,
        F.to_json(F.struct(F.col("cents").alias("value_cents"))),
    ).when(
        F.col("event_id") % 3 == 1,
        F.to_json(F.struct(F.col("k_val").alias("props_k"))),
    ).otherwise(
        F.to_json(
            F.struct(F.col("cents").alias("value_cents"), F.col("k_val").alias("props_k"))
        )
    )
    removed = F.when(F.col("event_id") % 3 == 0, F.array(F.lit("props_k"))).otherwise(
        F.array().cast("array<string>")
    )
    docs = stream.select(
        F.col("event_id"),
        F.col("ts"),
        F.to_json(
            F.struct(
                F.col("mongo_op").alias("operationType"),
                F.struct(F.col("user_id").alias("user_id")).alias("documentKey"),
                F.when(
                    F.col("mongo_op").isin("insert", "replace"),
                    F.struct(
                        F.col("user_id").alias("user_id"),
                        F.col("cents").alias("value_cents"),
                        F.col("k_val").alias("props_k"),
                    ),
                ).alias("fullDocument"),
                F.when(
                    F.col("mongo_op") == "update",
                    F.struct(
                        upd_sets.alias("updatedFields"),
                        removed.alias("removedFields"),
                    ),
                ).alias("updateDescription"),
            )
        ).alias("doc"),
    )
    # ---- the operator under test: parse + patch-fold
    # ONE from_json parse per change-stream document — seven
    # get_json_object calls re-parsed the whole envelope seven times (the
    # codec lesson pinned at 100x by cdc_mongo_update_lookup); only the
    # small nested updatedFields string gets a second pass.
    cs_schema = T.StructType(
        [
            T.StructField("operationType", T.StringType()),
            T.StructField(
                "documentKey",
                T.StructType([T.StructField("user_id", T.LongType())]),
            ),
            T.StructField(
                "fullDocument",
                T.StructType(
                    [
                        T.StructField("user_id", T.LongType()),
                        T.StructField("value_cents", T.LongType()),
                        T.StructField("props_k", T.LongType()),
                    ]
                ),
            ),
            T.StructField(
                "updateDescription",
                T.StructType(
                    [
                        T.StructField("updatedFields", T.StringType()),
                        T.StructField("removedFields", T.ArrayType(T.StringType())),
                    ]
                ),
            ),
        ]
    )
    parsed = docs.select(
        "event_id", "ts", F.from_json("doc", cs_schema).alias("r")
    ).select(
        "event_id",
        "ts",
        F.col("r.operationType").alias("mongo_op"),
        F.col("r.documentKey.user_id").alias("user_id"),
        F.col("r.fullDocument.value_cents").alias("fd_cents"),
        F.col("r.fullDocument.props_k").alias("fd_k"),
        # updatedFields is a JSON string embedded in the envelope (mongo's
        # extended-JSON nesting); absent keys -> NULL
        F.get_json_object(F.col("r.updateDescription.updatedFields"), "$.value_cents")
        .cast("long")
        .alias("uf_cents"),
        F.get_json_object(F.col("r.updateDescription.updatedFields"), "$.props_k")
        .cast("long")
        .alias("uf_k"),
        F.array_contains(
            F.coalesce(
                F.col("r.updateDescription.removedFields"),
                F.array().cast("array<string>"),
            ),
            "props_k",
        ).alias("removes_k"),
    )
    # Single-pass running-state fold: every window below shares ONE hash
    # exchange on the parsed key (a full image sets every field, so
    # last-action-wins over all actions per field is the patch-fold
    # semantics — no base join needed). Removals must survive as NULLs, so
    # the k state rides inside a struct: the struct is non-null when an
    # action happened even when the value it carries is NULL.
    is_full = F.col("mongo_op").isin("insert", "replace")
    # Both field states ride inside structs: a full image legitimately sets
    # a field to NULL, and a bare last(..., ignorenulls) would skip that
    # action and retain the stale pre-image (the oracle's fold would not).
    val_action = F.when(
        is_full, F.struct(F.col("fd_cents").alias("v"))
    ).when(F.col("uf_cents").isNotNull(), F.struct(F.col("uf_cents").alias("v")))
    k_action = F.when(
        is_full | (F.col("mongo_op") == "update"),
        F.struct(
            F.when(F.col("removes_k"), F.lit(None).cast("long"))
            .when(is_full, F.col("fd_k"))
            .otherwise(F.col("uf_k"))
            .alias("k")
        ),
    )
    wrun = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wdesc = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    state = (
        parsed.withColumn("__v_run", F.last(val_action, ignorenulls=True).over(wrun))
        .withColumn("__k_run", F.last(k_action, ignorenulls=True).over(wrun))
        .withColumn("__rn", F.row_number().over(wdesc))
    )
    return state.filter((F.col("__rn") == 1) & (F.col("mongo_op") != "delete")).select(
        "user_id",
        F.col("event_id").alias("last_eid"),
        F.col("__v_run.v").alias("value_cents"),
        F.col("__k_run.k").alias("props_k"),
    )


# ---------------------------------------------------------------------------
# Postgres wal2json: positional columnnames/columnvalues arrays
# ---------------------------------------------------------------------------

_W2J_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("columnnames", T.ArrayType(T.StringType())),
        T.StructField("columnvalues", T.ArrayType(T.LongType())),
        T.StructField(
            "oldkeys",
            T.StructType(
                [
                    T.StructField("keynames", T.ArrayType(T.StringType())),
                    T.StructField("keyvalues", T.ArrayType(T.LongType())),
                ]
            ),
        ),
    ]
)


@query(
    "cdc_postgres_wal2json",
    tier="A",
    oracle=f"""
    WITH logged AS ({_LOGGED_SQL})
    SELECT event_id AS lsn, event_id // 8 AS txn_id, user_id,
           prev_cents AS before_cents, cents AS after_cents
    FROM logged
    WHERE op = 'update'
    """,
)
def cdc_postgres_wal2json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postgres logical decoding, wal2json plugin: each change is a JSON
    object with POSITIONAL `columnnames`/`columnvalues` arrays plus an
    `oldkeys` block for update/delete — the plugin surface the reference
    exposes via 'decoding.plugin.name'
    (flink-connector-postgres-cdc/PostgreSQLTableFactory.java:88-94,
    PostgreSQLSource.java:58-59). The decode must zip names to values BY
    POSITION (schema drift reorders columns between messages; hardcoding
    indices is the classic bug).

    Spark-first: generate the wal2json text, `from_json` with the message
    schema, then `map_from_entries(arrays_zip(...))` turns the positional
    arrays into a name-addressed map — all JVM expressions. Emits the
    update changelog (before/after pairs from oldkeys + new image). The
    column order in generated messages alternates by row parity, so a
    positional-index decode cannot match the oracle.
    """
    logged = _logged(spark, sf_dir)
    upd = logged.filter(F.col("op") == "update")
    # alternate the column order per row: name-keyed decode is mandatory
    names = F.when(
        F.col("event_id") % 2 == 0,
        F.array(F.lit("user_id"), F.lit("value_cents")),
    ).otherwise(F.array(F.lit("value_cents"), F.lit("user_id")))
    values = F.when(
        F.col("event_id") % 2 == 0,
        F.array(F.col("user_id"), F.col("cents")),
    ).otherwise(F.array(F.col("cents"), F.col("user_id")))
    msgs = upd.select(
        F.col("event_id").alias("lsn"),
        F.to_json(
            F.struct(
                F.lit("update").alias("kind"),
                F.lit("public").alias("schema"),
                F.lit("events").alias("table"),
                names.alias("columnnames"),
                values.alias("columnvalues"),
                F.struct(
                    F.array(F.lit("user_id"), F.lit("prev_cents")).alias("keynames"),
                    F.array(F.col("user_id"), F.col("prev_cents")).alias("keyvalues"),
                ).alias("oldkeys"),
            )
        ).alias("msg"),
    )
    # ---- decode: positional zip -> name-addressed map
    parsed = msgs.select(
        "lsn", F.from_json("msg", _W2J_SCHEMA).alias("c")
    ).select(
        "lsn",
        F.map_from_entries(
            F.arrays_zip(F.col("c.columnnames"), F.col("c.columnvalues"))
        ).alias("new_img"),
        F.map_from_entries(
            F.arrays_zip(F.col("c.oldkeys.keynames"), F.col("c.oldkeys.keyvalues"))
        ).alias("old_img"),
    )
    return parsed.select(
        "lsn",
        (F.col("lsn") / 8).cast("long").alias("txn_id"),
        F.element_at("new_img", "user_id").alias("user_id"),
        F.element_at("old_img", "prev_cents").alias("before_cents"),
        F.element_at("new_img", "value_cents").alias("after_cents"),
    )


# ---------------------------------------------------------------------------
# OceanBase logproxy / LogMiner COMMIT_SCN: commit-order visibility
# ---------------------------------------------------------------------------

_OB_LANES = 3  # concurrent sessions striped across the log
_OB_TXN_SPAN = 30  # statements per transaction within a lane


@query(
    "cdc_oceanbase_commit_order",
    tier="A",
    oracle=f"""
    WITH logged AS ({_LOGGED_SQL}),
    framed AS (
      SELECT event_id, ts, user_id, cents, op,
             event_id % {_OB_LANES} AS lane,
             event_id // ({_OB_LANES} * {_OB_TXN_SPAN}) AS txn_idx
      FROM logged),
    txns AS (
      SELECT *, max(event_id) OVER (PARTITION BY lane, txn_idx) AS commit_pos,
             max(txn_idx) OVER (PARTITION BY lane) AS open_txn
      FROM framed),
    visible AS (
      -- a transaction's changes exist only once its COMMIT arrives; each
      -- lane's newest transaction never commits inside this log window
      SELECT * FROM txns WHERE txn_idx < open_txn)
    SELECT user_id, commit_pos, event_id AS last_eid, cents AS value_cents
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY commit_pos DESC, ts DESC, event_id DESC) AS rn
          FROM visible)
    WHERE rn = 1 AND op <> 'delete'
    """,
)
def cdc_oceanbase_commit_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-framed capture: OceanBase's logproxy client BUFFERS
    INSERT/UPDATE/DELETE LogMessages and flushes them only when the
    transaction's COMMIT record arrives
    (OceanBaseRichSourceFunction.java:313-345 — the buffer/flush switch on
    message.getOpt()), and Oracle LogMiner's COMMITTED_DATA_ONLY mode
    orders rows by COMMIT_SCN the same way. Model: three interleaved
    sessions (lanes striped across the log), each lane's statements
    grouped into transactions; a change becomes visible AT ITS COMMIT
    POSITION (not its statement position), and each lane's newest
    transaction has no COMMIT in the window — its buffered changes must
    never appear.

    Because interleaved transactions touching the same key commit out of
    statement order, latest-state-by-commit-order is genuinely different
    from latest-state-by-statement-order — the oracle hash locks in the
    reordering. Shuffles: the lag window (PK), one exchange on
    (lane, txn_idx) for the commit-position window (bounded-span
    transactions, never skewed), and the final PK window."""
    logged = _logged(spark, sf_dir)
    framed = logged.select(
        "event_id",
        "ts",
        "user_id",
        "cents",
        "op",
        (F.col("event_id") % _OB_LANES).alias("lane"),
        (F.col("event_id") / (_OB_LANES * _OB_TXN_SPAN)).cast("long").alias("txn_idx"),
    )
    wtxn = W.partitionBy("lane", "txn_idx")
    # The per-lane open-transaction mark is a _OB_LANES-row aggregate
    # broadcast back to the frame — NEVER a window partitioned by lane,
    # which squeezes the whole log into _OB_LANES tasks (measured 18.5 s
    # / 16.4x at the 10M-row ladder point vs ~4x after; lane is the one
    # partition key whose cardinality does not grow with the data).
    txns = framed.withColumn("commit_pos", F.max("event_id").over(wtxn))
    lane_open = framed.groupBy("lane").agg(F.max("txn_idx").alias("open_txn"))
    visible = txns.join(F.broadcast(lane_open), "lane").filter(
        F.col("txn_idx") < F.col("open_txn")
    )
    wuser = W.partitionBy("user_id").orderBy(
        F.col("commit_pos").desc(), F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        visible.withColumn("rn", F.row_number().over(wuser))
        .filter((F.col("rn") == 1) & (F.col("op") != "delete"))
        .select("user_id", "commit_pos", F.col("event_id").alias("last_eid"), F.col("cents").alias("value_cents"))
    )


# ---------------------------------------------------------------------------
# GTID-set failover resume: containment dedup across a master switch
# ---------------------------------------------------------------------------


@query(
    "cdc_gtid_failover",
    tier="A",
    oracle=f"""
    WITH logged AS ({_LOGGED_SQL}),
    gtid_log AS (
      SELECT *, CASE WHEN event_id % 2 = 0 THEN 'uuid-a' ELSE 'uuid-b' END AS server_uuid,
             event_id // 2 + 1 AS seq
      FROM logged),
    bounds AS (
      -- executed-set bounds come from the RAW binlog positions (every
      -- event occupies a position whether or not the state machine logs
      -- it), so the bounds side is a plain scan aggregate
      SELECT CASE WHEN event_id % 2 = 0 THEN 'uuid-a' ELSE 'uuid-b' END AS server_uuid,
             CAST(floor(max(event_id // 2 + 1)
                        * (CASE WHEN event_id % 2 = 0 THEN 0.6 ELSE 0.4 END))
                  AS BIGINT) AS done_hi
      FROM events GROUP BY 1, CASE WHEN event_id % 2 = 0 THEN 0.6 ELSE 0.4 END),
    emitted AS (
      SELECT g.* FROM gtid_log g JOIN bounds b USING (server_uuid)
      WHERE g.seq > b.done_hi)
    SELECT server_uuid,
           CAST(count(*) AS BIGINT) AS n_emitted,
           min(seq) AS min_seq, max(seq) AS max_seq,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM emitted
    GROUP BY server_uuid
    """,
)
def cdc_gtid_failover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GTID-set failover resume: after a master switch the new server
    replays transactions from BOTH server UUIDs, and the restored offset
    is a GTID SET (per-uuid executed intervals) — not a file/pos, which is
    meaningless on the new master. The reader must emit exactly the
    transactions NOT contained in the restored set
    (BinlogOffset.java:173-255 compares GTID sets by containment before
    any file/pos tiebreak; sources/offsets.py::GtidSet implements the set
    algebra with property-tested restore ordering; mysql-cdc.md's
    'GTID-based failover' is the scenario). Here the log carries two
    interleaved server UUIDs with DIFFERENT replication progress (60% of
    uuid-a's transactions executed vs 40% of uuid-b's) — a single scalar
    offset cannot express that boundary, which is the point of the set.

    Spark-first: the per-uuid high-water bounds are a 2-row aggregate
    broadcast back into the log scan (AQE broadcast join); containment is
    then a pushed filter — no shuffle of the log beyond the lag window.
    """
    logged = _logged(spark, sf_dir)
    gtid_log = logged.select(
        "event_id",
        "cents",
        F.when(F.col("event_id") % 2 == 0, "uuid-a").otherwise("uuid-b").alias("server_uuid"),
        ((F.col("event_id") / 2).cast("long") + 1).alias("seq"),
    )
    raw = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 2 == 0, "uuid-a").otherwise("uuid-b").alias("server_uuid"),
        ((F.col("event_id") / 2).cast("long") + 1).alias("seq"),
    )
    bounds = raw.groupBy("server_uuid").agg(
        F.floor(
            F.max("seq")
            * F.when(F.col("server_uuid") == "uuid-a", F.lit(0.6)).otherwise(F.lit(0.4))
        )
        .cast("long")
        .alias("done_hi")
    )
    emitted = gtid_log.join(F.broadcast(bounds), "server_uuid").filter(
        F.col("seq") > F.col("done_hi")
    )
    return emitted.groupBy("server_uuid").agg(
        F.count("*").alias("n_emitted"),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
        F.sum("cents").alias("sum_cents"),
    )


@query(
    "cdc_chunk_key_column",
    tier="A",
    oracle="""
    WITH stats AS (
      SELECT min(event_id) AS lo, max(event_id) AS hi, count(*) AS cnt
      FROM events
    ),
    step AS (
      SELECT greatest(CAST(floor(1000.0 * (hi - lo + 1) / cnt) AS BIGINT), 1) AS s,
             lo FROM stats
    )
    SELECT CAST((event_id - step.lo) // step.s AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT)        AS n_rows,
           min(event_id)                   AS key_lo,
           max(event_id)                   AS key_hi,
           CAST(sum(user_id) AS BIGINT)    AS user_checksum
    FROM events, step
    GROUP BY 1
    """,
)
def cdc_chunk_key_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-chosen snapshot split column via
    ``scan.incremental.snapshot.chunk.key-column`` — the composite-PK
    escape hatch (MySqlSourceOptions.java:240-247; resolution semantics
    mysql ChunkUtils.java:51-79 / oracle ChunkUtils.java:37-58: the chosen
    column must be a member of the primary key, default = first PK column).

    End-to-end through the DDL surface: the declaration below carries a
    COMPOSITE primary key ``(user_id, event_id)`` whose first column
    (``user_id``, ~150 distinct values at sf0.01) would make terrible
    chunks; the option selects ``event_id`` — dense, unique, indexed — and
    the resolved column drives the evenly-sized split
    (operators/cdc.py::even_chunks). The per-chunk count/min/max plus a
    user_id checksum prove the split is a complete, disjoint tiling of the
    table in the CHOSEN column's order.

    Scale: resolution is metadata-only; the split itself stays the pure
    projection of the even-chunk fast path — one MIN/MAX/COUNT aggregate,
    no per-chunk queries, no shuffle beyond the final per-chunk rollup.
    """
    from flink_cdc_connectors_spark.operators.cdc import (
        even_chunks,
        get_chunk_key_column,
    )
    from flink_cdc_connectors_spark.sources.ddl import (
        parse_create_table,
        to_source_config,
    )

    ddl = """
    CREATE TABLE events_src (
      user_id BIGINT,
      event_id BIGINT,
      ts TIMESTAMP(3),
      event_type STRING,
      value DOUBLE,
      PRIMARY KEY (user_id, event_id) NOT ENFORCED
    ) WITH (
      'connector' = 'mysql-cdc',
      'hostname' = 'localhost',
      'username' = 'cdc',
      'password' = '***',
      'database-name' = 'app',
      'table-name' = 'events',
      'scan.incremental.snapshot.chunk.size' = '1000',
      'scan.incremental.snapshot.chunk.key-column' = 'event_id'
    )
    """
    tdef = parse_create_table(ddl)
    cfg = to_source_config(tdef)
    split_col = get_chunk_key_column(
        tdef.primary_keys, cfg.chunk_key_column, table_id=tdef.name
    )
    e = load_table(spark, sf_dir, "events")
    return (
        even_chunks(
            e,
            split_col,
            chunk_size=cfg.snapshot_chunk_size,
            factor_lower=cfg.distribution_factor_lower,
            factor_upper=cfg.distribution_factor_upper,
        )
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(split_col).alias("key_lo"),
            F.max(split_col).alias("key_hi"),
            F.sum("user_id").cast("bigint").alias("user_checksum"),
        )
    )


@query(
    "cdc_chunk_split_vector",
    tier="A",
    oracle="""
    WITH sized AS (
      SELECT event_id, user_id, length(props) + 64 AS doc_bytes FROM events
    ),
    sv AS (
      SELECT CAST(floor(coalesce(sum(doc_bytes) OVER (
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / 65536) AS INT) AS chunk_id,
             event_id, user_id, doc_bytes
      FROM sized
    ),
    sh AS (
      SELECT CAST(len(list_filter([5, 40, 400], b -> user_id >= b)) AS INT)
               AS chunk_id,
             event_id, user_id, doc_bytes
      FROM sized
    )
    SELECT 'splitVector' AS strategy, chunk_id,
           CAST(count(*) AS BIGINT)      AS n_rows,
           CAST(sum(doc_bytes) AS BIGINT) AS chunk_bytes,
           min(event_id)                 AS key_lo,
           max(event_id)                 AS key_hi
    FROM sv GROUP BY 2
    UNION ALL
    SELECT 'sharded', chunk_id,
           CAST(count(*) AS BIGINT),
           CAST(sum(doc_bytes) AS BIGINT),
           min(event_id), max(event_id)
    FROM sh GROUP BY 2
    """,
)
def cdc_chunk_split_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MongoDB's two metadata-driven split strategies, dispatched the way
    ``MongoDBChunkSplitter.generateSplits`` does (MongoDBChunkSplitter
    .java:38-45): a sharded collection splits on its pre-existing
    ``config.chunks`` ranges, an unsharded privileged deployment uses
    ``splitVector`` (SplitVectorSplitStrategy.java:69-137 — split keys
    bounding ~maxChunkSize bytes of the _id index; here 64 KB against the
    events fixture's doc sizes).

    splitVector half: chunk_id = floor(exclusive-prefix-bytes / 64 KB) in
    _id order — the bucketed distributed prefix sum
    (operators/cdc.py::split_vector_chunks), no single-partition window,
    boundaries never collected. sharded half: the coordinator-side chunk
    list [MinKey,5),[5,40),[40,400),[400,MaxKey) assigns by broadcast
    boundary search (::sharded_chunks — contiguity + end-cap validation,
    ShardedSplitStrategy.java:69-127). Per-chunk n_rows/bytes/min/max
    prove both tilings complete and disjoint against the oracle's window
    replay. The sample-splitter fallbacks (unauthorized splitVector,
    unsharded metadata) are pinned by the operator unit tests.

    Scale: splitVector is ONE bucketed shuffle over the collection;
    sharded is shuffle-free; chunk counts are data-sized and never
    driver-materialized.
    """
    from flink_cdc_connectors_spark.operators.cdc import mongo_generate_chunks

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.length("props") + F.lit(64)).alias("doc_bytes"),
    )
    agg_cols = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_bytes").cast("bigint").alias("chunk_bytes"),
        F.min("event_id").alias("key_lo"),
        F.max("event_id").alias("key_hi"),
    ]
    sv = (
        mongo_generate_chunks(
            e, "event_id", size_col="doc_bytes", max_chunk_bytes=65536
        )
        .groupBy("chunk_id")
        .agg(*agg_cols)
        .select(F.lit("splitVector").alias("strategy"), "*")
    )
    sh = (
        mongo_generate_chunks(
            e, "user_id",
            chunk_ranges=[(None, 5), (5, 40), (40, 400), (400, None)],
        )
        .groupBy("chunk_id")
        .agg(*agg_cols)
        .select(F.lit("sharded").alias("strategy"), "*")
    )
    return sv.unionByName(sh)


@query(
    "cdc_spatial_decode",
    tier="A",
    oracle="""
    SELECT user_id,
           'Point' AS geo_type,
           CAST(user_id * 2 AS DOUBLE)       AS x,
           CAST(user_id * 3 + 1 AS DOUBLE)   AS y,
           CAST(user_id % 4096 AS BIGINT)    AS srid
    FROM (SELECT DISTINCT user_id FROM events)
    """,
)
def cdc_spatial_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOMETRY value decode END TO END: the capture layer delivers MySQL
    geometry columns as Debezium ``{wkb: bytes, srid: int}`` structs and
    the reference converts them to GeoJSON strings
    (MySqlDeserializationConverterFactory.java:80-112,
    ``OGCGeometry.fromBinary(wkb).asGeoJson()`` + the srid member). Here a
    deterministic POINT per user (x = 2·id, y = 3·id+1, srid = id mod
    4096) is ENCODED into real little-endian OGC WKB bytes (struct.pack in
    an Arrow batch — the ingest side), decoded with the engine's
    vectorized converter (functions/spatial.py::geometry_to_geojson), and
    the resulting GeoJSON is then re-PARSED with JVM-side JSON path
    extraction — so the oracle's plain arithmetic can only match if the
    WKB bytes, the binary parse, the GeoJSON shape, and the srid
    precedence are all correct.

    Scale: encode and decode are map-only (one Arrow hop each for the
    binary column); the only exchange is the DISTINCT on the key — and at
    100 TB geometry decode stays a projection beside the other payload
    converters."""
    import struct

    import pandas as pd

    from pyspark.sql import types as T

    users = load_table(spark, sf_dir, "events").select("user_id").distinct()

    enc_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("wkb", T.BinaryType()),
            T.StructField("srid", T.IntegerType()),
        ]
    )

    def encode(batches):
        for pdf in batches:
            blobs, srids = [], []
            for u in pdf["user_id"]:
                u = int(u)
                blobs.append(
                    b"\x01" + struct.pack("<I", 1)
                    + struct.pack("<dd", float(u * 2), float(u * 3 + 1))
                )
                srids.append(u % 4096)
            yield pd.DataFrame(
                {"user_id": pdf["user_id"], "wkb": blobs, "srid": srids}
            )

    from flink_cdc_connectors_spark.functions.spatial import geometry_to_geojson

    wire = users.mapInPandas(encode, schema=enc_schema)
    decoded = wire.select(
        "user_id", geometry_to_geojson("wkb", "srid").alias("geojson")
    )
    return decoded.select(
        "user_id",
        F.get_json_object("geojson", "$.type").alias("geo_type"),
        F.get_json_object("geojson", "$.coordinates[0]").cast("double").alias("x"),
        F.get_json_object("geojson", "$.coordinates[1]").cast("double").alias("y"),
        F.get_json_object("geojson", "$.srid").cast("bigint").alias("srid"),
    )
