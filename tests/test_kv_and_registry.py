"""K/V numeric parse (FIXTURES.md F2) and registry ops (F1). The K/V
parse is the shipped MySQL request's state-word CASE plus the melt's
``try_cast``; test_jdbc_smoke.py also runs it over live JDBC."""

from __future__ import annotations

from pyspark.sql import Row

from database_collector_spark.model.schemas import SOURCES_REGISTRY_SCHEMA
from database_collector_spark.plans.metric_config import (
    ENGINE_CONFIGS,
    load_specs,
    melt_to_samples,
)
from database_collector_spark.sources.registry import enabled_page, refresh_diff


def test_parse_numeric_drops_junk_maps_states(spark):
    (spec,) = [
        s for s in load_specs(ENGINE_CONFIGS["mysql"])
        if s.context == "mysql_global_status"
    ]
    spark.createDataFrame(
        [
            ("Threads_connected", "42"),
            ("Uptime", "123456"),
            ("Slave_running", "ON"),
            ("Read_only", "OFF"),
            ("Rsa_public_key", "-----BEGIN"),
            ("Null_value", None),
            ("Slave_IO_Running", "Connecting"),
        ],
        "VARIABLE_NAME string, VARIABLE_VALUE string",
    ).createOrReplaceTempView("kv_global_status")
    # the shipped request, verbatim but for its table
    request = spec.request.replace(
        "performance_schema.global_status", "kv_global_status"
    )
    out = {
        r["labels"]["variable_name"]: r["value"]
        for r in melt_to_samples(spark.sql(request), spec).collect()
    }
    assert out["threads_connected"] == 42.0
    assert out["slave_running"] == 1.0
    assert out["read_only"] == 0.0
    # upstream mysqld_exporter parity: 'Connecting' is a NON-running state
    assert out["slave_io_running"] == 0.0
    assert "rsa_public_key" not in out
    assert "null_value" not in out


def _registry(spark, rows):
    return spark.createDataFrame(rows, SOURCES_REGISTRY_SCHEMA)


def _row(name, engine, tagged=True):
    return Row(
        secret_name=name,
        engine=engine,
        host=f"{name}.abc.rds.amazonaws.com",
        port=3306,
        username="u",
        password="p",
        dbname="db",
        tags={"database-collector:enabled": "true"} if tagged else {"other": "x"},
    )


def test_discover_filters_routes_caps(spark):
    rows = [
        _row("a", "mysql"),
        _row("b", "postgres"),
        _row("c", "oracle-ee"),           # alias -> oracle (database-collector.go:65)
        _row("d", "custom-oracle-ee"),    # alias -> oracle
        _row("e", "sqlserver"),           # unknown -> skipped (:67-69)
        _row("f", "mysql", tagged=False), # untagged -> filtered (secrets-manager.go:34-39)
    ]
    page = enabled_page(_registry(spark, rows)).collect()
    got = {r["secret_name"]: r["route"] for r in page if r["route"] is not None}
    assert got == {"a": "mysql", "b": "postgres", "c": "oracle", "d": "oracle"}
    rej = [r["secret_name"] for r in page if r["route"] is None]
    assert rej == ["e"]


def test_discover_max_results_cap(spark):
    rows = [_row(f"s{i:03d}", "mysql") for i in range(120)]
    got = enabled_page(_registry(spark, rows)).collect()
    assert len(got) == 100  # MaxResults parity (secrets-manager.go:33)


def test_refresh_diff_adds_and_removes(spark):
    prev = _registry(spark, [_row("a", "mysql"), _row("b", "postgres")])
    curr = _registry(spark, [_row("b", "postgres"), _row("c", "oracle")])
    got = {(r["secret_name"], r["action"]) for r in refresh_diff(prev, curr).collect()}
    assert got == {("c", "add"), ("a", "remove")}
