"""End-to-end batch lifecycle (§3.1 analog) and the TTL end-state twin."""

from __future__ import annotations

import datetime as dt
import tempfile

from pyspark.sql import Row
from pyspark.sql import functions as F

from database_collector_spark.model.schemas import SOURCES_REGISTRY_SCHEMA
from database_collector_spark.pipeline import run_loop, run_once

CONFIG = """
[[metric]]
context = "sessions"
labels = ["status"]
metricsdesc = { active = "sessions by status" }
request = "SELECT status, CAST(COUNT(*) AS DOUBLE) AS active FROM scrape GROUP BY status"
"""


def _registry(spark):
    rows = [
        Row(
            secret_name=f"db-{e}",
            engine=e,
            host=f"{e}-host.cluster.rds.amazonaws.com",
            port=5432,
            username="u",
            password="p",
            dbname="d",
            tags={"database-collector:enabled": "true"},
        )
        for e in ("mysql", "postgres", "oracle-ee")
    ]
    return spark.createDataFrame(rows, SOURCES_REGISTRY_SCHEMA)


def test_run_once_scrapes_all_targets(spark):
    def scrape_fn(spark_, target, request):
        fixture = spark_.createDataFrame(
            [Row(status="ACTIVE"), Row(status="ACTIVE"), Row(status="IDLE")]
        )
        fixture.createOrReplaceTempView("scrape")
        return spark_.sql(request)

    collected = []

    results = run_once(
        spark,
        _registry(spark),
        {e: CONFIG for e in ("mysql", "postgres", "oracle")},
        scrape_fn,
        sink_fn=lambda df: collected.extend(df.collect()),
        anchor_ts="2024-06-01 00:00:00",
    )
    assert {r.target for r in results} == {"db-mysql", "db-postgres", "db-oracle-ee"}
    # 3 targets x 2 status groups
    assert len(collected) == 6
    engines = {r["labels"]["engine"] for r in collected}
    assert engines == {"mysql", "postgres", "oracle"}  # alias normalized
    idents = {r["labels"]["identifier"] for r in collected}
    assert idents == {"mysql-host", "postgres-host", "oracle-ee-host"}
    assert all(
        r["labels"]["__name__"] == "sessions_active" for r in collected
    )


def test_run_loop_ticks_bounded():
    ticks = []
    slept = []
    n = run_loop(
        lambda: ticks.append(1),
        interval_s=300,
        max_ticks=3,
        sleep=lambda s: slept.append(s),
    )
    assert n == 3 and len(ticks) == 3
    assert slept == [300, 300]  # no sleep after the final tick


def test_ttl_batch_twin_matches_streaming_end_state(spark):
    # ttl_final_state must give the end state an event-time TTL counter
    # reaches on these rows once the watermark hits the stream's end:
    # per-key final totals, with expired=True exactly for the keys whose
    # tombstone would have fired. A: 3 alive, B: 1 expired (stream end
    # 12:00, B last seen 10:02, TTL 1h).
    from database_collector_spark.workloads_ts import ttl_final_state

    rows = [
        ("A", "2024-06-01T10:00:00"),
        ("A", "2024-06-01T10:01:00"),
        ("B", "2024-06-01T10:02:00"),
        ("A", "2024-06-01T12:00:00"),
    ]
    df = spark.createDataFrame(
        [(k, ts) for k, ts in rows], "event_id_label string, ts string"
    ).selectExpr("event_id_label", "CAST(ts AS TIMESTAMP) AS ts")
    got = {
        (r["event_id_label"], r["rds_events_total"], r["expired"])
        for r in ttl_final_state(df).collect()
    }
    assert got == {("A", 3, False), ("B", 1, True)}


def _append(df, path):
    """Land ``df`` the way a plain appending writer would: one more set of
    files in each date partition."""
    df.withColumn("ds", F.to_date("ts")).write.partitionBy("ds").mode(
        "append"
    ).parquet(path)


def test_parquet_sink_partitioned(spark):
    from database_collector_spark.sinks.parquet import overwrite_partitions

    df = spark.createDataFrame(
        [
            Row(labels={"__name__": "m"}, value=1.0, ts=dt.datetime(2024, 6, 1, 10)),
            Row(labels={"__name__": "m"}, value=2.0, ts=dt.datetime(2024, 6, 2, 10)),
        ]
    )
    with tempfile.TemporaryDirectory() as tmp:
        overwrite_partitions(df, f"{tmp}/ts")
        back = spark.read.parquet(f"{tmp}/ts")
        assert back.count() == 2
        assert sorted(str(r["ds"]) for r in back.select("ds").collect()) == [
            "2024-06-01",
            "2024-06-02",
        ]
        # date partition prunes: filtered read touches one partition
        one = back.filter(F.col("ds") == "2024-06-01")
        assert one.count() == 1


def test_overwrite_partitions_is_idempotent(spark):
    from database_collector_spark.sinks.parquet import overwrite_partitions

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    session_mode = spark.conf.get(mode_key)
    d1 = dt.datetime(2024, 6, 1, 10)
    d2 = dt.datetime(2024, 6, 2, 10)
    base = spark.createDataFrame(
        [
            Row(labels={"__name__": "m"}, value=1.0, ts=d1),
            Row(labels={"__name__": "m"}, value=2.0, ts=d2),
        ]
    )
    with tempfile.TemporaryDirectory() as tmp:
        _append(base, f"{tmp}/ts")
        # re-run of day 2's tick with a corrected value: only day 2 replaced
        rerun = spark.createDataFrame(
            [Row(labels={"__name__": "m"}, value=20.0, ts=d2)]
        )
        overwrite_partitions(rerun, f"{tmp}/ts")
        got = {
            str(r["ds"]): r["value"]
            for r in spark.read.parquet(f"{tmp}/ts").collect()
        }
        assert got == {"2024-06-01": 1.0, "2024-06-02": 20.0}
        # running the same re-run again changes nothing (idempotent)
        overwrite_partitions(rerun, f"{tmp}/ts")
        assert spark.read.parquet(f"{tmp}/ts").count() == 2
        # the dynamic mode is a writer option: the session keeps its
        # static default
        assert spark.conf.get(mode_key) == session_mode
        assert session_mode.lower() == "static"


def test_compact_partitions_one_file_per_date(spark):
    import glob

    from database_collector_spark.sinks.parquet import compact_partitions

    with tempfile.TemporaryDirectory() as tmp:
        # three appends -> several files per date partition
        for v in (1.0, 2.0, 3.0):
            df = spark.createDataFrame(
                [
                    Row(labels={"m": "x"}, value=v, ts=dt.datetime(2024, 6, 1, 10)),
                    Row(labels={"m": "x"}, value=v, ts=dt.datetime(2024, 6, 2, 10)),
                ]
            )
            _append(df, f"{tmp}/ts")
        assert len(glob.glob(f"{tmp}/ts/ds=2024-06-01/*.parquet")) >= 3
        compact_partitions(spark, f"{tmp}/ts")
        for ds in ("2024-06-01", "2024-06-02"):
            assert len(glob.glob(f"{tmp}/ts/ds={ds}/*.parquet")) == 1
        # content survives byte-for-byte in row terms
        assert spark.read.parquet(f"{tmp}/ts").count() == 6


def test_run_once_warns_on_registry_overflow(spark):
    # >MAX_TARGETS enabled targets: the tick still runs (capped at 100 by
    # secret_name) but truncation is WARNED, never silent
    import warnings as _warnings

    from database_collector_spark.pipeline import run_once

    rows = [
        Row(
            secret_name=f"db-{i:04d}",
            engine="postgres",
            host="h",
            port=5432,
            username="u",
            password="p",
            dbname="d",
            tags={"database-collector:enabled": "true"},
        )
        for i in range(120)
    ]
    registry = spark.createDataFrame(rows, SOURCES_REGISTRY_SCHEMA)
    seen = []

    def scrape(spark_, target, config):
        raise RuntimeError("fail-soft")

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        results = run_once(
            spark, registry, {"postgres": "x"}, scrape, lambda df: seen.append(df)
        )
    assert len(results) == 100  # capped
    msgs = [str(w.message) for w in caught]
    assert any("drops 20" in m and "page cap 100" in m for m in msgs)


def test_run_once_warns_on_overflow_when_the_page_holds_an_unknown_engine(spark):
    # the cap applies to the enabled listing BEFORE unknown engines are
    # skipped: a full page that holds one unroutable target yields 99
    # targets, and the 20 enabled targets past the cap are still dropped
    import warnings as _warnings

    rows = [
        Row(
            secret_name=f"db-{i:04d}",
            engine="sqlserver" if i == 0 else "postgres",
            host="h",
            port=5432,
            username="u",
            password="p",
            dbname="d",
            tags={"database-collector:enabled": "true"},
        )
        for i in range(120)
    ]
    registry = spark.createDataFrame(rows, SOURCES_REGISTRY_SCHEMA)

    def scrape(spark_, target, config):
        raise RuntimeError("fail-soft")

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        results = run_once(spark, registry, {"postgres": "x"}, scrape, lambda df: None)
    assert len(results) == 99
    assert all(r.engine == "postgres" for r in results)
    msgs = [str(w.message) for w in caught]
    assert any("drops 20" in m and "page cap 100" in m for m in msgs)


TWO_SPECS = CONFIG + """
[[metric]]
context = "sessions_total"
metricsdesc = { n = "sessions" }
request = "SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM scrape"
"""


def _fixture_scrape(spark_, request):
    spark_.createDataFrame(
        [Row(status="ACTIVE"), Row(status="ACTIVE"), Row(status="IDLE")]
    ).createOrReplaceTempView("scrape")
    return spark_.sql(request)


def _nodes(plan, ancestors=()):
    """(node name, names of its ancestors) for every node of a Catalyst
    plan, walked through the JVM tree."""
    yield plan.nodeName(), ancestors
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i), ancestors + (plan.nodeName(),))


def test_run_once_enriches_one_union_of_every_healthy_melt(spark):
    # 3 targets x 2 specs, one target down: the tick is one Union of the
    # 4 healthy (target, spec) melts under exactly one enrich generator,
    # not a union of per-target enrich pipelines
    def scrape_fn(spark_, target, request):
        if target["route"] == "postgres":
            raise RuntimeError("target down")
        return _fixture_scrape(spark_, request)

    sunk = []
    results = run_once(
        spark,
        _registry(spark),
        {e: TWO_SPECS for e in ("mysql", "postgres", "oracle")},
        scrape_fn,
        sink_fn=sunk.append,
        anchor_ts="2024-06-01 00:00:00",
    )
    assert {r.target for r in results if r.error} == {"db-postgres"}
    (df,) = sunk
    nodes = list(_nodes(df._jdf.queryExecution().optimizedPlan()))
    assert sum(1 for n, _ in nodes if n == "Union") == 1
    assert sum(1 for n, up in nodes if up and up[-1] == "Union") == 4
    assert sum(1 for n, up in nodes if n == "Generate" and "Union" in up) == 4
    assert sum(1 for n, up in nodes if n == "Generate" and "Union" not in up) == 1
    rows = df.collect()
    # 2 healthy targets x (2 status series + 1 total)
    assert len(rows) == 6
    assert {r["labels"]["identifier"] for r in rows} == {"mysql-host", "oracle-ee-host"}
    assert {r["labels"]["engine"] for r in rows} == {"mysql", "oracle"}


def test_run_once_drops_every_spec_of_a_target_that_fails_late(spark):
    # the first spec of db-mysql scrapes, its second raises: the target is
    # reported failed and none of its first-spec samples reach the sink
    calls = []

    def scrape_fn(spark_, target, request):
        calls.append(target["route"])
        if target["route"] == "mysql" and calls.count("mysql") == 2:
            raise RuntimeError("second spec failed")
        return _fixture_scrape(spark_, request)

    collected = []
    results = run_once(
        spark,
        _registry(spark),
        {e: TWO_SPECS for e in ("mysql", "postgres", "oracle")},
        scrape_fn,
        sink_fn=lambda df: collected.extend(df.collect()),
        anchor_ts="2024-06-01 00:00:00",
    )
    by_target = {r.target: r.error for r in results}
    assert by_target["db-mysql"] is not None
    assert by_target["db-postgres"] is None and by_target["db-oracle-ee"] is None
    assert {r["labels"]["engine"] for r in collected} == {"postgres", "oracle"}
    assert len(collected) == 6


def test_run_once_warns_naming_unknown_engine_targets(spark):
    # the reference logs and skips an engine it has no route for
    # (database-collector.go:67-69): the tick names the skipped target
    import warnings as _warnings

    rows = [
        Row(
            secret_name=f"db-{e}",
            engine=e,
            host=f"{e}-host",
            port=1433,
            username="u",
            password="p",
            dbname="d",
            tags={"database-collector:enabled": "true"},
        )
        for e in ("mysql", "sqlserver")
    ]
    registry = spark.createDataFrame(rows, SOURCES_REGISTRY_SCHEMA)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        results = run_once(
            spark,
            registry,
            {"mysql": CONFIG},
            lambda spark_, target, request: _fixture_scrape(spark_, request),
            lambda df: None,
        )
    assert [r.target for r in results] == ["db-mysql"]
    (msg,) = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert "unknown engine" in msg and "db-sqlserver (sqlserver)" in msg
    assert "db-mysql" not in msg


def test_non_numeric_value_drops_one_sample_not_the_tick(spark):
    # one target's value column holds a word: under ANSI a plain cast
    # raises at sink time and takes every target's write with it; the
    # melt's try_cast drops that one sample and the rest land
    def scrape_fn(spark_, target, request):
        idle = "n/a" if target["route"] == "postgres" else "1"
        return spark_.createDataFrame(
            [("ACTIVE", "2"), ("IDLE", idle)], "status string, active string"
        )

    collected = []
    results = run_once(
        spark,
        _registry(spark),
        {e: CONFIG for e in ("mysql", "postgres", "oracle")},
        scrape_fn,
        sink_fn=lambda df: collected.extend(df.collect()),
        anchor_ts="2024-06-01 00:00:00",
    )
    assert all(r.error is None for r in results) and len(results) == 3
    got = {(r["labels"]["engine"], r["labels"]["status"]): r["value"] for r in collected}
    assert got == {
        ("mysql", "ACTIVE"): 2.0,
        ("mysql", "IDLE"): 1.0,
        ("postgres", "ACTIVE"): 2.0,
        ("oracle", "ACTIVE"): 2.0,
        ("oracle", "IDLE"): 1.0,
    }
