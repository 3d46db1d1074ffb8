"""Live JDBC round-trip for the catalog-scraper reader (SURVEY.md §2.1).

The reference's scrapers run real SQL over a real connection
(collector/exporters/mysql/mysql-exporter.go:72-92); the sandbox has no
MySQL/Postgres/Oracle server, so this exercises the identical Spark code
path — spark.read.format("jdbc") with full-query pushdown, single
partition, credential options — against the Derby embedded engine that
ships on Spark's own classpath (derby*.jar, bundled for the Hive
metastore). In local mode the in-memory database lives in the same JVM
the executor threads share, so the read is a genuine JDBC fetch through
java.sql.DriverManager, not a mock.
"""

from __future__ import annotations

import glob
import os

import pytest
import pyspark
from py4j.protocol import Py4JJavaError

from database_collector_spark.sources.jdbc import read_catalog_query

DERBY_URL = "jdbc:derby:memory:catalogdb;create=true"

_has_derby = bool(
    glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "derby-*.jar"))
)
pytestmark = pytest.mark.skipif(not _has_derby, reason="no derby jar on classpath")


def _seed_db(spark, db, statements):
    """Create in-memory Derby database ``db`` and run ``statements`` in it,
    once per JVM."""
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:memory:{db};create=true")
    st = conn.createStatement()
    try:
        st.executeUpdate(statements[0])
    except Py4JJavaError:
        pass  # already seeded by a previous test in this JVM
    else:
        for sql in statements[1:]:
            st.executeUpdate(sql)
    st.close()
    conn.close()


# a K/V status table shaped like SHOW GLOBAL STATUS output
GLOBAL_STATUS = [
    "CREATE TABLE global_status "
    "(variable_name VARCHAR(64), variable_value VARCHAR(1024))",
    "INSERT INTO global_status VALUES ('Threads_connected', '42'), "
    "('Uptime', '123456'), ('Slave_running', 'ON'), "
    "('Rsa_public_key', '-----BEGIN PUBLIC KEY-----')",
]


def test_catalog_query_round_trip(spark):
    _seed_db(spark, "catalogdb", GLOBAL_STATUS)
    df = read_catalog_query(
        spark,
        engine="derby",
        username="app",
        password="",
        query="SELECT variable_name, variable_value FROM global_status",
        url=DERBY_URL,
    )
    got = {r["VARIABLE_NAME"]: r["VARIABLE_VALUE"] for r in df.collect()}
    assert got["Threads_connected"] == "42"
    assert got["Rsa_public_key"].startswith("-----BEGIN")
    assert df.rdd.getNumPartitions() == 1  # the 1-connection budget


def test_catalog_query_pushdown_filters_remotely(spark):
    _seed_db(spark, "catalogdb", GLOBAL_STATUS)
    df = read_catalog_query(
        spark,
        engine="derby",
        username="app",
        password="",
        query=(
            "SELECT variable_name, variable_value FROM global_status "
            "WHERE variable_name LIKE 'Threads%'"
        ),
        url=DERBY_URL,
    )
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["VARIABLE_NAME"] == "Threads_connected"


def test_run_once_derby_fanout_fail_soft(spark):
    """Full multi-target tick over LIVE JDBC: three targets, each its own
    in-memory Derby database, one with an unreachable URL. The healthy
    targets' frames union into the sink (per-target isolation: each row
    carries its own identifier label) and the broken target fail-softs
    into a CollectResult.error instead of killing the tick — the
    goroutine-per-target + continue-on-error shape of the reference
    (database-collector.go:214-222)."""
    from pyspark.sql import Row

    from database_collector_spark.model.schemas import SOURCES_REGISTRY_SCHEMA
    from database_collector_spark.pipeline import run_once

    jvm = spark.sparkContext._jvm
    for host, statuses in [("fan1", ["ACTIVE", "ACTIVE", "IDLE"]), ("fan3", ["IDLE"])]:
        conn = jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:memory:{host};create=true"
        )
        st = conn.createStatement()
        try:
            st.executeUpdate("CREATE TABLE scrape (status VARCHAR(16))")
        except Exception:
            pass
        else:
            for s in statuses:
                st.executeUpdate(f"INSERT INTO scrape VALUES ('{s}')")
        st.close()
        conn.close()

    registry = spark.createDataFrame(
        [
            Row(
                secret_name=f"db-{h}",
                engine="mysql",
                host=h,
                port=5432,
                # Derby resolves the connection's username as the default
                # schema; "app" matches the APP schema the seeder wrote to
                username="app",
                password="",
                dbname="d",
                tags={"database-collector:enabled": "true"},
            )
            # fan2 was never created and its URL has no ;create=true ->
            # DriverManager raises at load() time (schema resolution)
            for h in ("fan1", "fan2", "fan3")
        ],
        SOURCES_REGISTRY_SCHEMA,
    )

    config = """
[[metric]]
context = "sessions"
labels = ["status"]
metricsdesc = { active = "sessions by status" }
request = "SELECT status, CAST(COUNT(*) AS DOUBLE) AS active FROM scrape GROUP BY status"
"""

    def scrape_fn(spark_, target, request):
        df = read_catalog_query(
            spark_,
            engine="derby",
            username=target["username"],
            password=target["password"],
            query=request,
            url=f"jdbc:derby:memory:{target['host']}",
        )
        return df.toDF(*[c.lower() for c in df.columns])

    collected = []
    results = run_once(
        spark,
        registry,
        {"mysql": config},
        scrape_fn,
        sink_fn=lambda df: collected.extend(df.collect()),
        anchor_ts="2024-06-01 00:00:00",
    )

    by_target = {r.target: r for r in results}
    assert set(by_target) == {"db-fan1", "db-fan2", "db-fan3"}
    assert by_target["db-fan2"].error is not None  # fail-soft, not fatal
    assert by_target["db-fan1"].error is None and by_target["db-fan3"].error is None
    # healthy targets only, each row tagged with its own identifier
    idents = {r["labels"]["identifier"] for r in collected}
    assert idents == {"fan1", "fan3"}
    # fan1: ACTIVE + IDLE groups; fan3: IDLE only
    vals = {
        (r["labels"]["identifier"], r["labels"]["status"]): r["value"]
        for r in collected
    }
    assert vals[("fan1", "ACTIVE")] == 2.0
    assert vals[("fan1", "IDLE")] == 1.0
    assert vals[("fan3", "IDLE")] == 1.0
    assert len(collected) == 3


def _shipped_tick(spark, monkeypatch, route, db):
    """One ``run_once`` tick of the shipped ``route`` config, verbatim,
    through ``jdbc.scrape`` against Derby database ``db``: the route's
    DSN template is pointed at Derby. Returns the results and
    {(name, labels minus the enrich labels): value}."""
    from pyspark.sql import Row

    from database_collector_spark.model.schemas import SOURCES_REGISTRY_SCHEMA
    from database_collector_spark.pipeline import run_once
    from database_collector_spark.plans.metric_config import ENGINE_CONFIGS
    from database_collector_spark.sources import jdbc

    monkeypatch.setitem(jdbc.JDBC_URL_TEMPLATES, route, "jdbc:derby:memory:{dbname}")
    registry = spark.createDataFrame(
        [
            Row(
                secret_name=f"db-{db}",
                engine=route,
                host=f"{db}.example.internal",
                port=1527,
                username="app",  # Derby's default schema is the user's
                password="",
                dbname=db,
                tags={"database-collector:enabled": "true"},
            )
        ],
        SOURCES_REGISTRY_SCHEMA,
    )
    collected = []
    results = run_once(
        spark,
        registry,
        ENGINE_CONFIGS,
        jdbc.scrape,
        sink_fn=lambda df: collected.extend(df.collect()),
        anchor_ts="2024-06-01 00:00:00",
    )
    enrich_labels = {"__name__", "identifier", "job", "region", "accountId", "engine"}
    samples = {
        (
            r["labels"]["__name__"],
            tuple(sorted((k, v) for k, v in r["labels"].items() if k not in enrich_labels)),
        ): r["value"]
        for r in collected
    }
    return results, samples


def _value_columns(route):
    from database_collector_spark.plans.metric_config import ENGINE_CONFIGS, load_specs

    return {
        spec.metric_name(v)
        for spec in load_specs(ENGINE_CONFIGS[route])
        for v in spec.metricsdesc
    }


MYSQL_CATALOG = [
    "CREATE SCHEMA performance_schema",
    "CREATE TABLE performance_schema.global_status "
    "(VARIABLE_NAME VARCHAR(64), VARIABLE_VALUE VARCHAR(1024))",
    "INSERT INTO performance_schema.global_status VALUES "
    "('Threads_connected', '42'), ('Uptime', '123456'), "
    "('Slave_running', 'ON'), ('Read_only', 'OFF'), "
    "('Rsa_public_key', '-----BEGIN PUBLIC KEY-----'), ('Null_value', NULL), "
    "('Slave_IO_Running', 'Connecting')",
    "CREATE TABLE performance_schema.global_variables "
    "(VARIABLE_NAME VARCHAR(64), VARIABLE_VALUE VARCHAR(1024))",
    "INSERT INTO performance_schema.global_variables VALUES "
    "('max_connections', '151'), ('log_bin', 'ON'), ('datadir', '/var/lib/mysql/')",
    "CREATE TABLE performance_schema.replication_connection_status "
    "(CHANNEL_NAME VARCHAR(64), SERVICE_STATE VARCHAR(16), "
    "COUNT_RECEIVED_HEARTBEATS BIGINT, LAST_ERROR_NUMBER INT)",
    "INSERT INTO performance_schema.replication_connection_status VALUES "
    "('', 'CONNECTING', 12, 2003)",
    "CREATE SCHEMA information_schema",
    "CREATE TABLE information_schema.innodb_cmp (page_size INT, "
    "compress_ops INT, compress_ops_ok INT, compress_time INT, "
    "uncompress_ops INT, uncompress_time INT)",
    "INSERT INTO information_schema.innodb_cmp VALUES (1024, 10, 9, 1, 5, 0)",
    "CREATE TABLE information_schema.innodb_cmp_mem (page_size INT, "
    "buffer_pool_instance INT, pages_used INT, pages_free INT, "
    "relocation_ops BIGINT, relocation_time INT)",
    "INSERT INTO information_schema.innodb_cmp_mem VALUES (1024, 0, 3, 1, 0, 0)",
    'CREATE TABLE information_schema.query_response_time ("TIME" VARCHAR(14), '
    '"COUNT" INT, TOTAL VARCHAR(14))',
    "INSERT INTO information_schema.query_response_time VALUES "
    "('      0.000001', 4, '      0.000003'), ('TOO LONG', 0, 'TOO LONG')",
]


def test_kv_parse_over_live_jdbc(spark, monkeypatch):
    """The shipped MySQL config, verbatim over live JDBC: every scraper
    emits, the K/V state words map (ON 1, OFF 0, Connecting 0) and the
    melt drops what is not a number (a TLS key, a path, NULL)."""
    _seed_db(spark, "shippedmysql", MYSQL_CATALOG)
    results, got = _shipped_tick(spark, monkeypatch, "mysql", "shippedmysql")
    assert [r.error for r in results] == [None]
    assert {name for name, _ in got} == _value_columns("mysql")

    status = {
        dict(labels)["variable_name"]: v
        for (name, labels), v in got.items()
        if name == "mysql_global_status_value"
    }
    assert status == {
        "threads_connected": 42.0,
        "uptime": 123456.0,
        "slave_running": 1.0,
        "read_only": 0.0,
        # upstream mysqld_exporter parity: 'Connecting' is NOT running
        "slave_io_running": 0.0,
    }
    variables = {
        dict(labels)["variable_name"]: v
        for (name, labels), v in got.items()
        if name == "mysql_global_variables_value"
    }
    assert variables == {"max_connections": 151.0, "log_bin": 1.0}
    channel = (("channel_name", ""),)
    assert got[("mysql_slave_status_slave_io_running", channel)] == 0.0
    assert got[("mysql_slave_status_last_error_number", channel)] == 2003.0
    le = (("le", "0.000001"),)
    assert got[("mysql_info_schema_query_response_time_total", le)] == 3e-06
    # the overflow bucket's 'TOO LONG' total is not a number: dropped
    too_long = (("le", "TOO LONG"),)
    assert got[("mysql_info_schema_query_response_time_count", too_long)] == 0.0
    assert ("mysql_info_schema_query_response_time_total", too_long) not in got


POSTGRES_CATALOG = [
    "CREATE TABLE pg_stat_database (datid INT, datname VARCHAR(64), "
    "numbackends INT, xact_commit BIGINT, xact_rollback BIGINT, "
    "blks_read BIGINT, blks_hit BIGINT, tup_returned BIGINT, "
    "tup_fetched BIGINT, tup_inserted BIGINT, tup_updated BIGINT, "
    "tup_deleted BIGINT, deadlocks BIGINT, temp_files BIGINT, temp_bytes BIGINT)",
    "INSERT INTO pg_stat_database VALUES "
    "(5, 'app', 3, 100, 2, 10, 90, 1000, 500, 20, 5, 1, 0, 0, 0)",
    "CREATE TABLE pg_stat_activity (datname VARCHAR(64), state VARCHAR(32))",
    "INSERT INTO pg_stat_activity VALUES "
    "('app', 'active'), ('app', 'active'), ('app', 'idle')",
    "CREATE TABLE pg_database (oid INT, datname VARCHAR(64))",
    "INSERT INTO pg_database VALUES (5, 'app'), (6, 'unlocked')",
    "CREATE TABLE pg_locks (database INT, mode VARCHAR(32))",
    "INSERT INTO pg_locks VALUES "
    "(5, 'AccessShareLock'), (5, 'AccessShareLock'), (5, 'RowExclusiveLock')",
    "CREATE TABLE pg_replication_slots "
    "(slot_name VARCHAR(64), slot_type VARCHAR(16), active BOOLEAN)",
    "INSERT INTO pg_replication_slots VALUES "
    "('standby1', 'physical', TRUE), ('old', 'logical', FALSE)",
    "CREATE TABLE pg_stat_bgwriter (checkpoints_timed BIGINT, "
    "checkpoints_req BIGINT, buffers_checkpoint BIGINT, buffers_clean BIGINT, "
    "buffers_backend BIGINT, buffers_alloc BIGINT)",
    "INSERT INTO pg_stat_bgwriter VALUES (10, 2, 300, 40, 50, 1000)",
]


def test_postgres_config_over_live_jdbc(spark, monkeypatch):
    """The shipped Postgres config, verbatim over live JDBC: every scraper
    emits, with its labels."""
    _seed_db(spark, "shippedpg", POSTGRES_CATALOG)
    results, got = _shipped_tick(spark, monkeypatch, "postgres", "shippedpg")
    assert [r.error for r in results] == [None]
    assert {name for name, _ in got} == _value_columns("postgres")

    app = (("datid", "5"), ("datname", "app"))
    assert got[("pg_stat_database_xact_commit", app)] == 100.0
    assert got[("pg_stat_activity_count", (("datname", "app"), ("state", "active")))] == 2.0
    locks = {
        dict(labels)["mode"]: v for (name, labels), v in got.items() if name == "pg_locks_count"
    }
    assert locks == {"AccessShareLock": 2.0, "RowExclusiveLock": 1.0}
    slots = {
        dict(labels)["slot_name"]: v
        for (name, labels), v in got.items()
        if name == "pg_replication_slots_active"
    }
    assert slots == {"standby1": 1.0, "old": 0.0}
    assert got[("pg_stat_bgwriter_buffers_alloc", ())] == 1000.0
