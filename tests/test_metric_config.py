"""Declarative metric-config compiler + the §7.2 minimum end-to-end slice.

Reproduces collector/exporters/oracle/custom-metrics.toml:4-16 against the
F6 v_session fixture: scan -> derived duration -> 3-predicate filter ->
sort -> TOML label/value mapping -> enrichment -> prompb encode ->
structural golden assert. Every layer of the engine in one test.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from database_collector_spark.operators.enrich import enrich
from database_collector_spark.plans.metric_config import (
    ENGINE_CONFIGS,
    load_specs,
    melt_to_samples,
    run_config,
)
from database_collector_spark.sinks.remote_write import (
    decode_write_request,
    encode_write_request,
)
from database_collector_spark.sources.registry import ENGINE_ALIASES

# The reference query (custom-metrics.toml:4-16) with SYSDATE pinned to an
# anchor for determinism; Spark SQL dialect for date arithmetic.
CONFIG_TOML = """
[[metric]]
context = "long_running_sessions"
labels = ["sid", "serial", "username"]
metricsdesc = { session_duration_hours = "Duration of long running database sessions" }
request = '''
SELECT sid, serial, username, logon_time,
       ROUND((unix_timestamp(TIMESTAMP '2024-06-01 00:00:00') - unix_timestamp(logon_time)) / 3600, 2)
         AS session_duration_hours
FROM v_session
WHERE username IS NOT NULL
  AND ROUND((unix_timestamp(TIMESTAMP '2024-06-01 00:00:00') - unix_timestamp(logon_time)) / 3600, 2) > 8
  AND username LIKE 'SDM%'
ORDER BY session_duration_hours DESC
'''
"""

ANCHOR = dt.datetime(2024, 6, 1, 0, 0, 0)


def _v_session(spark):
    # F6 fixture: NULL usernames, SDM and non-SDM, durations straddling 8h
    rows = [
        Row(sid=1, serial=11, username="SDM_BATCH", logon_time=ANCHOR - dt.timedelta(hours=20),
            status="ACTIVE", type="USER", machine="m1", program="p1"),
        Row(sid=2, serial=12, username="SDM_ETL", logon_time=ANCHOR - dt.timedelta(hours=9),
            status="INACTIVE", type="USER", machine="m2", program="p2"),
        Row(sid=3, serial=13, username="SDM_SHORT", logon_time=ANCHOR - dt.timedelta(hours=2),
            status="ACTIVE", type="USER", machine="m3", program="p3"),  # <8h: filtered
        Row(sid=4, serial=14, username="APP_USER", logon_time=ANCHOR - dt.timedelta(hours=30),
            status="ACTIVE", type="USER", machine="m4", program="p4"),  # not SDM%: filtered
        Row(sid=5, serial=15, username=None, logon_time=ANCHOR - dt.timedelta(hours=40),
            status="ACTIVE", type="BACKGROUND", machine="m5", program="p5"),  # NULL: filtered
        Row(sid=6, serial=16, username="SDM_EDGE", logon_time=ANCHOR - dt.timedelta(hours=8),
            status="ACTIVE", type="USER", machine="m6", program="p6"),  # ==8h: filtered (>8 strict)
    ]
    return spark.createDataFrame(rows)


def test_spec_parsing():
    (spec,) = load_specs(CONFIG_TOML)
    assert spec.context == "long_running_sessions"
    assert spec.labels == ["sid", "serial", "username"]
    assert list(spec.metricsdesc) == ["session_duration_hours"]
    assert spec.metric_name("session_duration_hours") == (
        "long_running_sessions_session_duration_hours"
    )


def test_minimum_slice_end_to_end(spark):
    samples = run_config(spark, CONFIG_TOML, {"v_session": _v_session(spark)})
    got = {r["labels"]["sid"]: r for r in samples.collect()}
    # exactly the two >8h SDM sessions survive (custom-metrics.toml:12-14)
    assert sorted(got) == ["1", "2"]
    assert got["1"]["value"] == 20.0
    assert got["2"]["value"] == 9.0
    assert got["1"]["name"] == "long_running_sessions_session_duration_hours"
    assert got["1"]["labels"]["username"] == "SDM_BATCH"
    assert got["1"]["labels"]["serial"] == "11"

    enriched = enrich(
        samples,
        host="proddb.cluster-xyz.us-west-2.rds.amazonaws.com",
        engine="oracle",
        region="us-west-2",
        account_id="123456789012",
        anchor_ts="2024-06-01 00:00:00",
    )
    rows = enriched.collect()
    payload = encode_write_request(
        [
            (dict(r["labels"]), float(r["value"]), int(r["ts"].timestamp() * 1000))
            for r in rows
        ]
    )
    decoded = decode_write_request(payload)
    # structural golden: 2 series, full label set, APS-ready values
    assert len(decoded) == 2
    by_sid = {labels["sid"]: (labels, value, ts) for labels, value, ts in decoded}
    labels, value, ts_ms = by_sid["1"]
    assert value == 20.0
    assert ts_ms == int(ANCHOR.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert labels["__name__"] == "long_running_sessions_session_duration_hours"
    assert labels["identifier"] == "proddb"  # host split at '.' (prometheus.go:48)
    assert labels["job"] == "database-collector"
    assert labels["engine"] == "oracle"
    assert labels["username"] == "SDM_BATCH"


def test_every_shipped_spec_loads_with_a_value_column():
    assert set(ENGINE_CONFIGS) == set(ENGINE_ALIASES.values())
    for route, text in ENGINE_CONFIGS.items():
        specs = load_specs(text)
        assert specs, route
        for spec in specs:
            assert spec.request.strip() and spec.metricsdesc, (route, spec.context)
            assert not set(spec.labels) & set(spec.metricsdesc), (route, spec.context)


def test_oracle_specs_melt_their_label_and_value_columns(spark):
    """Oracle's v$ views cannot be hosted by Derby or a Spark view, so its
    SQL is not run here: each spec's melt runs over a fixture frame with
    the upper-case column names Oracle reports for that spec's labels and
    value columns. A numeric row becomes one sample per value column; a
    row of 'UNLIMITED' (v$resource_limit's word for no limit) yields none."""
    for spec in load_specs(ENGINE_CONFIGS["oracle"]):
        cols = [c.upper() for c in spec.labels + list(spec.metricsdesc)]
        rows = [
            tuple(["x"] * len(spec.labels) + ["7"] * len(spec.metricsdesc)),
            tuple(["y"] * len(spec.labels) + [" UNLIMITED"] * len(spec.metricsdesc)),
        ]
        frame = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))
        got = {
            (r["name"], tuple(sorted(r["labels"].items())), r["value"])
            for r in melt_to_samples(frame, spec).collect()
        }
        labels = tuple(sorted((lbl, "x") for lbl in spec.labels))
        assert got == {(spec.metric_name(v), labels, 7.0) for v in spec.metricsdesc}, (
            spec.context
        )
