"""Per-target JDBC catalog readers (SURVEY.md §2.1 S3-S5, §2.10 fan-out).

The reference opens one DB connection per target and ships scraper SQL
verbatim (goroutine per (secret, engine), database-collector.go:201-226;
Oracle pool clamped to 1 connection, oracle-exporter.go:19-21). The Spark
shape: one ``spark.read.jdbc`` per (target, scraper) with full-query
pushdown — the remote database plans the query, Spark just fetches.
``pipeline.run_once`` issues the reads one target at a time through
:func:`scrape` and unions what they return into one tick; which SQL runs
per engine is the metric config's ``request`` field
(``plans.metric_config.ENGINE_CONFIGS``).

Credentials never appear in plans or logs: they ride in reader options
(redacted by Spark) and are re-resolved from the registry row on every
batch, preserving the reference's rotation-safe per-scrape re-fetch
(database-collector.go:207-212).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

JDBC_URL_TEMPLATES = {
    # DSN shapes from mysql-exporter.go:87, postgres-exporter.go:21,
    # oracle-exporter.go:14 — TLS surfaced as config (default secure; the
    # reference hard-codes sslmode=disable, SURVEY §2.6).
    "mysql": "jdbc:mysql://{host}:{port}/",
    "postgres": "jdbc:postgresql://{host}:{port}/{dbname}",
    "oracle": "jdbc:oracle:thin:@//{host}:{port}/{dbname}",
}


def jdbc_url(engine: str, host: str, port: int, dbname: str | None = None) -> str:
    return JDBC_URL_TEMPLATES[engine].format(host=host, port=port, dbname=dbname or "")


def read_catalog_query(
    spark: SparkSession,
    *,
    engine: str,
    host: str | None = None,
    port: int | None = None,
    username: str,
    password: str,
    dbname: str | None = None,
    query: str,
    query_timeout: int = 10,
    url: str | None = None,
    driver: str | None = None,
) -> DataFrame:
    """One scraper read: full-query pushdown, single partition.

    Catalog results are 10^2-10^4 rows — numPartitions=1 mirrors the
    reference's 1-connection budget and avoids pointless range-splitting;
    queryTimeout mirrors oracle-exporter.go:21.

    ``url`` overrides the engine DSN template for endpoints needing
    custom connection properties (or an embedded engine in tests);
    ``driver`` pins the JDBC driver class when the URL prefix isn't
    auto-registered with java.sql.DriverManager.
    """
    if url is None and (host is None or port is None):
        # fail at the call site, not as an opaque JDBC error against
        # host "None" at .load() time
        raise ValueError("read_catalog_query needs either url or host+port")
    reader = (
        spark.read.format("jdbc")
        .option("url", url or jdbc_url(engine, host, port, dbname))
        .option("query", query)
        .option("user", username)
        .option("password", password)
        .option("numPartitions", 1)
        .option("queryTimeout", query_timeout)
    )
    if driver is not None:
        reader = reader.option("driver", driver)
    return reader.load()


def scrape(spark: SparkSession, target: dict, request: str) -> DataFrame:
    """One metric-config request against one registry row (``run_once``'s
    ``scrape_fn``): the DSN comes from the row's route, host, port and
    dbname, the credentials from the same row on every tick."""
    return read_catalog_query(
        spark,
        engine=target["route"],
        host=target["host"],
        port=target["port"],
        username=target["username"],
        password=target["password"],
        dbname=target["dbname"],
        query=request,
    )
