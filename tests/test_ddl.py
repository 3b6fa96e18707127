"""Flink CREATE TABLE DDL surface: parse fidelity, option mapping, binding."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_cdc_connectors_spark.sources.ddl import (
    create_cdc_stream,
    create_cdc_table,
    parse_create_table,
    to_source_config,
)

_DDL = """
CREATE TABLE IF NOT EXISTS db.orders_cdc (
  order_id INT,
  order_date TIMESTAMP(0),
  customer_name STRING,
  price DECIMAL(10, 5),
  product_id INT UNSIGNED,
  order_status BOOLEAN,
  database_name STRING METADATA VIRTUAL,
  op_ts TIMESTAMP_LTZ(3) METADATA FROM 'op_ts' VIRTUAL,
  WATERMARK FOR order_date AS order_date - INTERVAL '5' SECOND,
  PRIMARY KEY (order_id) NOT ENFORCED
) WITH (
  'connector' = 'mysql-cdc',
  'hostname' = 'db.example',
  'port' = '3307',
  'username' = 'flinkuser',
  'password' = 'flinkpw',
  'database-name' = 'appdb',
  'table-name' = 'orders_[0-9]+',
  'scan.startup.mode' = 'timestamp',
  'scan.startup.timestamp-millis' = '1700000000000',
  'scan.incremental.snapshot.chunk.size' = '4096',
  'server-time-zone' = 'UTC'
);
"""


def test_parse_create_table_fidelity():
    """The docs' DDL shape parses losslessly: name, lattice-typed columns,
    metadata columns with explicit/implicit keys, PK, watermark, options."""
    t = parse_create_table(_DDL)
    assert t.name == "orders_cdc"
    assert [c for c, _ in t.columns] == [
        "order_id", "order_date", "customer_name", "price", "product_id", "order_status",
    ]
    sch = t.spark_schema()
    assert sch["order_id"].dataType == T.IntegerType()
    assert sch["customer_name"].dataType == T.StringType()
    assert sch["price"].dataType == T.DecimalType(10, 5)
    assert sch["product_id"].dataType == T.LongType()  # INT UNSIGNED promotion
    assert sch["order_status"].dataType == T.BooleanType()
    # metadata: implicit key = column name; explicit FROM respected
    assert t.metadata_columns == [
        ("database_name", "STRING", "database_name"),
        ("op_ts", "TIMESTAMP_LTZ(3)", "op_ts"),
    ]
    assert t.primary_keys == ["order_id"]
    assert t.watermark == ("order_date", "order_date - INTERVAL '5' SECOND")
    assert t.options["connector"] == "mysql-cdc"


def test_options_map_to_source_config():
    cfg = to_source_config(parse_create_table(_DDL))
    assert (cfg.hostname, cfg.port) == ("db.example", 3307)
    assert (cfg.username, cfg.password) == ("flinkuser", "flinkpw")
    assert cfg.database_pattern == "appdb"
    assert cfg.table_pattern == "orders_[0-9]+"
    assert cfg.startup_mode == "timestamp"
    assert cfg.startup_timestamp_ms == 1700000000000
    assert cfg.snapshot_chunk_size == 4096


def test_non_cdc_connector_rejected():
    ddl = "CREATE TABLE t (a INT) WITH ('connector' = 'kafka')"
    with pytest.raises(ValueError, match="not a CDC connector"):
        to_source_config(parse_create_table(ddl))


def test_create_cdc_table_binds_and_registers(spark, sf_dir):
    """Binding: declared+absent column -> typed NULL; metadata columns
    appended; view registered under the DDL name; regex discovery unions
    shard tables (region|nation here — the user_1/user_2 sharding shape)."""
    ddl = """
    CREATE TABLE shard_union (
      r_regionkey INT,
      n_nationkey INT,
      tbl STRING METADATA FROM 'table_name' VIRTUAL
    ) WITH (
      'connector' = 'mysql-cdc', 'hostname' = 'mysql',
      'username' = 'cdc', 'password' = 'pw',
      'database-name' = 'app',
      'table-name' = 'region|nation'
    )
    """
    df = create_cdc_table(spark, ddl, sf_dir)
    assert df.columns == ["r_regionkey", "n_nationkey", "tbl"]
    tables = {r["tbl"] for r in df.select("tbl").distinct().collect()}
    assert tables == {"region", "nation"}
    # region rows carry NULL n_nationkey and vice versa (schema conformance)
    assert df.filter((F.col("tbl") == "region") & F.col("n_nationkey").isNotNull()).count() == 0
    assert df.filter((F.col("tbl") == "nation") & F.col("r_regionkey").isNotNull()).count() == 0
    assert spark.sql("SELECT count(*) FROM shard_union").first()[0] == df.count()


def test_latest_offset_startup_reads_nothing_new(spark, sf_dir):
    """latest-offset startup resolves against the current max offset —
    an immediately-read stream sees zero rows (the streaming semantics of
    StartupMode.LATEST_OFFSET in a batch binding)."""
    ddl = """
    CREATE TABLE ev_latest (event_id BIGINT, user_id BIGINT)
    WITH ('connector' = 'mysql-cdc', 'hostname' = 'mysql',
          'username' = 'cdc', 'password' = 'pw',
          'database-name' = 'app', 'table-name' = 'events',
          'scan.startup.mode' = 'latest-offset')
    """
    assert create_cdc_table(spark, ddl, sf_dir, register_view=False).count() == 0


def test_create_cdc_stream_runs_dsv2(spark, sf_dir, tmp_path):
    """The SAME DDL drives the streaming engine: create_cdc_stream
    configures the cdc_binlog DSv2 source from the WITH-options; a
    specific-offset startup stream drains to exactly the post-offset
    events."""
    from flink_cdc_connectors_spark.sources.loaders import load_table

    e = load_table(spark, sf_dir, "events")
    max_off = e.agg(F.max("event_id")).first()[0]
    start = int(max_off * 0.8)
    ddl = f"""
    CREATE TABLE ev_stream (event_id BIGINT, user_id BIGINT)
    WITH ('connector' = 'mysql-cdc', 'hostname' = 'mysql',
          'username' = 'cdc', 'password' = 'pw',
          'database-name' = 'app', 'table-name' = 'events',
          'scan.startup.mode' = 'specific-offset',
          'scan.startup.specific-offset.pos' = '{start}')
    """
    stream = create_cdc_stream(spark, ddl, sf_dir)
    assert stream.isStreaming
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    expected = e.filter(F.col("event_id") > start).count()
    assert got.count() == expected
    assert got.agg(F.min("event_id")).first()[0] > start


def test_required_options_enforced_per_connector():
    """Factory validate() parity: each connector's requiredOptions() set is
    enforced, missing keys reported together (FactoryUtil style)."""
    ddl = """
    CREATE TABLE t (a INT) WITH (
      'connector' = 'postgres-cdc', 'hostname' = 'pg',
      'database-name' = 'db', 'table-name' = 't')
    """
    with pytest.raises(ValueError) as e:
        to_source_config(parse_create_table(ddl))
    msg = str(e.value)
    assert "password" in msg and "schema-name" in msg and "username" in msg
    # mongodb requires only hosts (MongoDBTableSourceFactory.java:131-135)
    ok = "CREATE TABLE t (a INT) WITH ('connector'='mongodb-cdc', 'hosts'='m:27017')"
    to_source_config(parse_create_table(ok))


# -- slot.name + pre-flight validation (round 3) -----------------------------


def test_postgres_ddl_carries_slot_name():
    from flink_cdc_connectors_spark.sources.ddl import parse_create_table, to_source_config

    ddl = """
    CREATE TABLE shipments (shipment_id INT, PRIMARY KEY (shipment_id) NOT ENFORCED)
    WITH ('connector' = 'postgres-cdc', 'hostname' = 'localhost',
          'username' = 'postgres', 'password' = 'pg', 'database-name' = 'postgres',
          'schema-name' = 'public', 'table-name' = 'shipments',
          'slot.name' = 'flink_shipments')
    """
    cfg = to_source_config(parse_create_table(ddl))
    assert cfg.slot_name == "flink_shipments"
    # default slot name when the option is omitted (Builder default 'flink')
    ddl_no_slot = ddl.replace("'slot.name' = 'flink_shipments'", "'port' = '5432'")
    assert to_source_config(parse_create_table(ddl_no_slot)).slot_name == "flink"


def test_mongodb_ddl_carries_copy_existing():
    """'copy.existing' is a LIVE config (mongodb-cdc.md, boolean, default
    true — the legacy token-first copy-then-tail initial load whose
    semantics cdc_mongo_copy_existing models), not an accepted-and-
    discarded string."""
    from flink_cdc_connectors_spark.sources.ddl import parse_create_table, to_source_config

    ddl = """
    CREATE TABLE products (_id STRING, PRIMARY KEY (_id) NOT ENFORCED)
    WITH ('connector' = 'mongodb-cdc', 'hosts' = 'mongo:27017',
          'database' = 'inventory', 'collection' = 'products',
          'copy.existing' = 'false')
    """
    assert to_source_config(parse_create_table(ddl)).copy_existing is False
    ddl_default = ddl.replace("'copy.existing' = 'false'", "'username' = 'm'")
    assert to_source_config(parse_create_table(ddl_default)).copy_existing is True


def test_validate_mysql_server_preconditions():
    import pytest

    from flink_cdc_connectors_spark.sources.source_config import SourceConfig
    from flink_cdc_connectors_spark.sources.validation import (
        ServerInfo,
        ValidationError,
        validate_server,
    )

    cfg = SourceConfig()
    ok = ServerInfo(version="8.0.34", binlog_format="ROW",
                    binlog_row_image="FULL", utc_offset_seconds=0)
    validate_server("mysql-cdc", ok, cfg)  # passes
    with pytest.raises(ValidationError, match=">= 5.6"):
        validate_server("mysql-cdc", ServerInfo(version="5.5.8", binlog_format="ROW"), cfg)
    with pytest.raises(ValidationError, match="binlog_format"):
        validate_server("mysql-cdc", ServerInfo(version="8.0.34", binlog_format="STATEMENT"), cfg)
    with pytest.raises(ValidationError, match="binlog_row_image"):
        validate_server(
            "mysql-cdc",
            ServerInfo(version="8.0.34", binlog_format="ROW", binlog_row_image="MINIMAL"),
            cfg,
        )
    # pre-5.6 row image unavailable -> assumed FULL (passes)
    validate_server("mysql-cdc", ServerInfo(version="5.6.1", binlog_format="ROW"), cfg)
    with pytest.raises(ValidationError, match="timezone"):
        validate_server(
            "mysql-cdc",
            ServerInfo(version="8.0.34", binlog_format="ROW",
                       binlog_row_image="FULL", utc_offset_seconds=8 * 3600),
            cfg,  # configured UTC, server +8h
        )


def test_validate_postgres_server_and_slot_lifecycle():
    import pytest

    from flink_cdc_connectors_spark.sources.source_config import SourceConfig
    from flink_cdc_connectors_spark.sources.validation import (
        ReplicationSlotRegistry,
        ServerInfo,
        ValidationError,
        validate_server,
    )

    cfg = SourceConfig(slot_name="flink")
    with pytest.raises(ValidationError, match="wal_level"):
        validate_server("postgres-cdc", ServerInfo(version="15.2", wal_level="replica"), cfg)
    validate_server("postgres-cdc", ServerInfo(version="15.2", wal_level="logical"), cfg)
    with pytest.raises(ValidationError, match="slot.name"):
        validate_server(
            "postgres-cdc",
            ServerInfo(version="15.2", wal_level="logical"),
            SourceConfig(slot_name=None),
        )

    reg = ReplicationSlotRegistry()
    reg.create("postgres", "flink")
    with pytest.raises(ValidationError, match="already active"):
        reg.create("postgres", "flink")
    assert reg.leaked(set()) == [("postgres", "flink")]  # no live owner -> leak
    assert reg.leaked({("postgres", "flink")}) == []
    reg.drop("postgres", "flink")
    with pytest.raises(ValidationError, match="does not exist"):
        reg.drop("postgres", "flink")


def test_binding_without_table_pattern_raises_clearly(spark, sf_dir):
    import pytest

    from flink_cdc_connectors_spark.sources.ddl import create_cdc_table

    ddl = """
    CREATE TABLE m (doc STRING)
    WITH ('connector' = 'mongodb-cdc', 'hosts' = 'localhost:27017')
    """
    with pytest.raises(ValueError, match="table-name"):
        create_cdc_table(spark, ddl, sf_dir)


# The reference Flink CDC checkout, beside this repository.
_REFERENCE_DOCS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference", "docs", "content", "connectors",
)


@pytest.mark.skipif(
    not os.path.isdir(_REFERENCE_DOCS),
    reason="needs the reference Flink CDC checkout's connector docs beside this "
    "repository (reference/docs/content/connectors)",
)
def test_reference_doc_ddl_examples_parse_verbatim():
    """Every CDC CREATE TABLE example shipped in the reference's own
    connector documentation (all 8 connectors, EN + ZH pages) must parse
    through our DDL surface VERBATIM — a reference user's copy-pasted doc
    example cannot hit a parse error. Complete examples must also pass
    factory option validation; doc snippets that intentionally omit
    required options must fail validation with the factory's
    missing-options message, never an unstructured error."""
    import glob
    import re

    from flink_cdc_connectors_spark.sources.ddl import (
        parse_create_table,
        validate_options,
    )

    stmts = []
    for f in glob.glob(os.path.join(_REFERENCE_DOCS, "*.md")):
        text = open(f, encoding="utf-8", errors="replace").read()
        for m in re.finditer(r"```sql(.*?)```", text, re.S):
            for stmt in re.findall(r"(CREATE TABLE\s.*?;)", m.group(1), re.S | re.I):
                if "-cdc" in stmt:
                    stmts.append((f.rsplit("/", 1)[-1], stmt))
    assert len(stmts) >= 20, f"expected the docs' example corpus, got {len(stmts)}"

    connectors = set()
    fully_valid = 0
    for src, stmt in stmts:
        tdef = parse_create_table(stmt)  # must never raise
        assert tdef.columns, f"{src}: no columns parsed"
        connectors.add(tdef.options.get("connector"))
        try:
            validate_options(tdef)
            fully_valid += 1
        except ValueError as e:
            assert "required options are missing" in str(e) or "missing" in str(e), (
                src,
                e,
            )
    # every connector family is exercised by at least one doc example
    assert {
        "mysql-cdc",
        "postgres-cdc",
        "mongodb-cdc",
        "oracle-cdc",
        "sqlserver-cdc",
        "db2-cdc",
        "tidb-cdc",
        "oceanbase-cdc",
    } <= connectors, connectors
    # the complete examples (the common case) validate end to end
    assert fully_valid >= 15, f"only {fully_valid} of {len(stmts)} validated"


def test_metadata_keys_cover_all_connector_surfaces(spark, sf_dir):
    """The METADATA key set must cover every connector family's readable
    metadata: schema_name (Postgres/Oracle/SQLServer/Db2), collection_name
    (MongoDB's table axis), tenant_name (OceanBase's DDL examples use it),
    alongside the MySQL trio — each materializes as a typed column from
    the binding."""
    from flink_cdc_connectors_spark.sources.ddl import create_cdc_table

    df = create_cdc_table(
        spark,
        """CREATE TABLE meta_probe (
             o_orderkey BIGINT,
             db STRING METADATA FROM 'database_name' VIRTUAL,
             sch STRING METADATA FROM 'schema_name' VIRTUAL,
             tbl STRING METADATA FROM 'table_name' VIRTUAL,
             ts0 TIMESTAMP METADATA FROM 'op_ts' VIRTUAL,
             PRIMARY KEY (o_orderkey) NOT ENFORCED
           ) WITH ('connector' = 'postgres-cdc', 'hostname' = 'h',
                   'username' = 'u', 'password' = 'p',
                   'database-name' = 'appdb', 'schema-name' = 'public',
                   'table-name' = 'orders')""",
        sf_dir=sf_dir,
        register_view=False,
    )
    row = df.first()
    assert row["db"] == "appdb" and row["sch"] == "public" and row["tbl"] == "orders"

    mongo = create_cdc_table(
        spark,
        """CREATE TABLE coll_probe (
             o_orderkey BIGINT,
             coll STRING METADATA FROM 'collection_name' VIRTUAL,
             PRIMARY KEY (o_orderkey) NOT ENFORCED
           ) WITH ('connector' = 'mongodb-cdc', 'hosts' = 'h:27017',
                   'database-name' = 'appdb', 'collection' = 'orders',
                   'table-name' = 'orders')""",
        sf_dir=sf_dir,
        register_view=False,
    )
    assert mongo.first()["coll"] == "orders"

    ob = create_cdc_table(
        spark,
        """CREATE TABLE tenant_probe (
             o_orderkey BIGINT,
             tenant STRING METADATA FROM 'tenant_name' VIRTUAL,
             PRIMARY KEY (o_orderkey) NOT ENFORCED
           ) WITH ('connector' = 'oceanbase-cdc', 'scan.startup.mode' = 'initial',
                   'username' = 'u', 'password' = 'p',
                   'tenant-name' = 'sys', 'logproxy.host' = 'h',
                   'logproxy.port' = '2983', 'table-name' = 'orders')""",
        sf_dir=sf_dir,
        register_view=False,
    )
    assert ob.first()["tenant"] == "sys"


def test_unsupported_options_rejected_factoryutil_style():
    """A typo'd option must fail loudly (FactoryUtil 'Unsupported options'
    analog), while debezium.*/jdbc.properties.* namespaces pass through to
    the underlying engine unvalidated — exactly the reference's rule."""
    import pytest

    from flink_cdc_connectors_spark.sources.ddl import (
        parse_create_table,
        validate_options,
    )

    def ddl(extra):
        return parse_create_table(
            f"""CREATE TABLE t (id BIGINT, PRIMARY KEY (id) NOT ENFORCED)
                WITH ('connector' = 'mysql-cdc', 'hostname' = 'h',
                      'username' = 'u', 'password' = 'p',
                      'database-name' = 'd', 'table-name' = 't', {extra})"""
        )

    with pytest.raises(ValueError, match="Unsupported options.*table-nmae"):
        validate_options(ddl("'table-nmae' = 'oops'"))
    # passthrough namespaces are never validated
    validate_options(ddl("'debezium.snapshot.mode' = 'never'"))
    validate_options(ddl("'jdbc.properties.useSSL' = 'false'"))
    # the doc's own full option set validates
    validate_options(ddl("'scan.startup.specific-offset.gtid-set' = 'a:1-4'"))


def test_server_id_range_covers_parallelism():
    """ServerIdRange semantics (ServerIdRange.java:30-90): inclusive
    bounds, per-subtask assignment start+i, out-of-range subtasks and
    too-small ranges rejected with the reference's message shape."""
    import pytest

    from flink_cdc_connectors_spark.sources.validation import (
        ServerIdRange,
        ValidationError,
        validate_server_id_range,
    )

    r = validate_server_id_range("5400-5408", parallelism=8)
    assert r.size == 9
    assert [r.server_id(i) for i in (0, 8)] == [5400, 5408]
    single = ServerIdRange.parse("5400")
    assert single.size == 1 and str(single) == "5400"
    with pytest.raises(ValidationError, match="out of server id range"):
        r.server_id(9)
    with pytest.raises(ValidationError, match="at least as large as the"):
        validate_server_id_range("5400-5403", parallelism=8)
    with pytest.raises(ValidationError, match="range.*empty|must be a range"):
        ServerIdRange.parse("5408-5400")


def test_option_sets_are_per_connector():
    """Granting one connector's options to another would accept exactly the
    porting mistakes unsupported-option validation exists to catch: the
    MySQL-spelled 'scan.startup.timestamp-millis' must fail on
    oceanbase-cdc (its option is 'scan.startup.timestamp', in seconds),
    and 'server-id' must fail everywhere but MySQL. A truncated DDL that
    ALSO carries a typo reports the missing required options first
    (FactoryUtil validates declared options before unconsumed keys)."""
    import pytest

    from flink_cdc_connectors_spark.sources.ddl import (
        parse_create_table,
        validate_options,
    )

    ob = parse_create_table(
        """CREATE TABLE t (id BIGINT) WITH (
             'connector' = 'oceanbase-cdc', 'scan.startup.mode' = 'timestamp',
             'username' = 'u', 'password' = 'p', 'tenant-name' = 'sys',
             'logproxy.host' = 'h', 'logproxy.port' = '2983',
             'scan.startup.timestamp-millis' = '1700000000000')"""
    )
    with pytest.raises(ValueError, match="Unsupported options.*timestamp-millis"):
        validate_options(ob)

    pg = parse_create_table(
        """CREATE TABLE t (id BIGINT) WITH (
             'connector' = 'postgres-cdc', 'hostname' = 'h', 'username' = 'u',
             'password' = 'p', 'database-name' = 'd', 'schema-name' = 's',
             'table-name' = 't', 'server-id' = '5400')"""
    )
    with pytest.raises(ValueError, match="Unsupported options.*server-id"):
        validate_options(pg)

    truncated_and_typod = parse_create_table(
        """CREATE TABLE t (id BIGINT) WITH (
             'connector' = 'mysql-cdc', 'hostname' = 'h', 'table-nmae' = 't')"""
    )
    with pytest.raises(ValueError, match="required options are missing"):
        validate_options(truncated_and_typod)


def test_ddl_captured_key_ranges_drive_added_table_restart(spark, sf_dir, tmp_path):
    """The reference's 'scan.newly-added-table.enabled' DDL flow through
    the streaming binding: 'scan.captured.key-ranges' expresses the
    capture set (one range per table); restarting the SAME checkpoint
    with a WIDER list in the DDL backfills the new range and resumes —
    the whole protocol driven from the CREATE TABLE statement."""
    from flink_cdc_connectors_spark.sources.loaders import load_table

    e = load_table(spark, sf_dir, "events")
    k_hi = e.agg(F.max("user_id")).first()[0] + 1
    mid = k_hi // 2
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain(ranges_json):
        ddl = f"""
        CREATE TABLE ev_stream (event_id BIGINT, user_id BIGINT, value DOUBLE)
        WITH ('connector' = 'mysql-cdc', 'hostname' = 'mysql',
              'username' = 'cdc', 'password' = 'pw',
              'database-name' = 'app', 'table-name' = 'events',
              'scan.newly-added-table.enabled' = 'true',
              'scan.captured.key-ranges' = '{ranges_json}')
        """
        q = (
            create_cdc_stream(spark, ddl, sf_dir)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain(f"[[0, {mid}]]")
    first = spark.read.parquet(out)
    assert first.filter(F.col("user_id") >= mid).count() == 0
    assert first.count() > 0
    drain(f"[[0, {mid}], [{mid}, {k_hi}]]")  # the widened "regex"
    emitted = spark.read.parquet(out)
    # the added range was backfilled (image rows exist) and nothing
    # double-emitted for the initial range
    assert emitted.filter(F.col("user_id") >= mid).count() > 0
    per_event = emitted.filter(F.col("op") != "insert").select("event_id")
    assert per_event.count() == per_event.distinct().count()


def test_ddl_added_table_restart_requires_the_flag(spark, sf_dir, tmp_path):
    """With 'scan.newly-added-table.enabled' UNSET, restarting the same
    checkpoint with a wider 'scan.captured.key-ranges' must NOT backfill
    the new range — the flag gates restart-time discovery exactly as in
    the reference (MySqlSourceOptions.java:232-238); the widened range
    stays an uncaptured table and its events are dropped."""
    from flink_cdc_connectors_spark.sources.loaders import load_table

    e = load_table(spark, sf_dir, "events")
    k_hi = e.agg(F.max("user_id")).first()[0] + 1
    mid = k_hi // 2
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain(ranges_json):
        ddl = f"""
        CREATE TABLE ev_stream (event_id BIGINT, user_id BIGINT, value DOUBLE)
        WITH ('connector' = 'mysql-cdc', 'hostname' = 'mysql',
              'username' = 'cdc', 'password' = 'pw',
              'database-name' = 'app', 'table-name' = 'events',
              'scan.captured.key-ranges' = '{ranges_json}')
        """
        q = (
            create_cdc_stream(spark, ddl, sf_dir)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain(f"[[0, {mid}]]")
    assert spark.read.parquet(out).count() > 0
    drain(f"[[0, {mid}], [{mid}, {k_hi}]]")  # widened, but flag unset
    emitted = spark.read.parquet(out)
    assert emitted.filter(F.col("user_id") >= mid).count() == 0, (
        "flag unset: the widened range must stay uncaptured"
    )
    per_event = emitted.filter(F.col("op") != "insert").select("event_id")
    assert per_event.count() == per_event.distinct().count()


def test_ddl_rejects_malformed_key_ranges():
    """Factory-time validation: overlapping or inverted capture ranges
    fail at CREATE TABLE, not inside the stream thread."""
    ddl = """
    CREATE TABLE t (event_id BIGINT)
    WITH ('connector' = 'mysql-cdc', 'hostname' = 'h',
          'username' = 'u', 'password' = 'p',
          'database-name' = 'app', 'table-name' = 'events',
          'scan.captured.key-ranges' = '[[0, 10], [5, 20]]')
    """
    with pytest.raises(ValueError, match="disjoint"):
        to_source_config(parse_create_table(ddl))
