"""Collector-parity pipeline end-to-end: the reference's whole loop
(SURVEY.md §3.1) through this engine's public API, offline.

    registry (discovery fixture; tag filter + engine dispatch)
      -> per-target TOML metric config compile (§2.9 slice)
      -> scrape (fixture stand-in for the JDBC read)
      -> label enrichment (identifier truncation, engine alias, ts)
      -> fan-out to BOTH advertised sinks, no network:
           * Prometheus remote-write: prompb encode (structural bytes)
           * CloudWatch: PutMetricData datum mapping (S9, dry)

Run:  python examples/collector_pipeline.py
The production tick is the same call over the shipped scrapers and a
real sink:
``run_once(spark, registry, ENGINE_CONFIGS, jdbc.scrape, sink_fn)``, with
``ENGINE_CONFIGS`` from ``plans.metric_config``, ``scrape`` from
``sources.jdbc`` and a ``sink_fn`` that writes ``RemoteWriteSink`` /
``CloudWatchSink`` against real endpoints (``pipeline.run_loop``
schedules it @every 5m, database-collector.go:271).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row

from database_collector_spark.model.schemas import SOURCES_REGISTRY_SCHEMA
from database_collector_spark.pipeline import run_once
from database_collector_spark.session import get_spark
from database_collector_spark.sinks.cloudwatch import chunk_datums, to_datum
from database_collector_spark.sinks.remote_write import encode_write_request

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
            host=f"{e}-host.cluster.example.internal",
            port=5432,
            username="u",
            password="p",
            dbname="d",
            tags={"database-collector:enabled": "true"},
        )
        for e in ("mysql", "postgres", "oracle-ee")
    ]
    return spark.createDataFrame(rows, SOURCES_REGISTRY_SCHEMA)


def _default_scrape_fn(spark_, target, request):
    fixture = spark_.createDataFrame(
        [Row(status="ACTIVE"), Row(status="ACTIVE"), Row(status="IDLE")]
    )
    fixture.createOrReplaceTempView("scrape")
    return spark_.sql(request)


def run_example(spark, scrape_fn=_default_scrape_fn) -> dict:
    """The whole loop; returns the stats dict main() prints (the test
    calls this same function, so example and test cannot drift)."""
    from datetime import timezone

    samples = []
    results = run_once(
        spark,
        _registry(spark),
        {e: CONFIG for e in ("mysql", "postgres", "oracle")},
        scrape_fn,
        sink_fn=lambda df: samples.extend(df.collect()),
        anchor_ts="2024-06-01 00:00:00",
    )

    # sink fan-out, dry: the SAME enriched rows into both wire formats.
    # The collected ts is naive UTC (session timezone is pinned UTC);
    # stamp it as UTC explicitly for prompb, matching to_datum's own
    # naive->UTC rule, so the two sinks carry identical instants on any
    # host timezone.
    series = [(dict(r["labels"]), float(r["value"]), r["ts"]) for r in samples]
    prompb = encode_write_request(
        [
            (labels, v, int(ts.replace(tzinfo=timezone.utc).timestamp() * 1000))
            for labels, v, ts in series
        ]
    )
    datums = [d for d in (to_datum(l, v, ts) for l, v, ts in series) if d]
    batches = list(chunk_datums(iter(datums)))
    return {
        "targets": sorted(r.target for r in results),
        "n_samples": len(samples),
        "prompb_bytes": len(prompb),
        "cloudwatch_datums": len(datums),
        "cloudwatch_batches": len(batches),
        "datum_ts_utc": sorted(
            {d["Timestamp"].isoformat() for d in datums if "Timestamp" in d}
        ),
        "prompb_ts_ms": sorted(
            {
                int(ts.replace(tzinfo=timezone.utc).timestamp() * 1000)
                for _, _, ts in series
            }
        ),
    }


def main() -> None:
    spark = get_spark("collector-pipeline-example")
    print(run_example(spark))


if __name__ == "__main__":
    main()
