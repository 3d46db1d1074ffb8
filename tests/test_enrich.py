"""Enrichment transform tests (SURVEY.md §2.4, §2.6; FIXTURES.md F8)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from database_collector_spark.model.schemas import METRIC_SAMPLE_SCHEMA
from database_collector_spark.operators.enrich import enrich
from database_collector_spark.plans.metric_config import MetricSpec, melt_to_samples

ANCHOR = "2024-06-01 00:00:00"
HOST = "mydb.abc123.us-west-2.rds.amazonaws.com"


def _samples(spark):
    rows = [
        Row(
            name="mysql_up",
            metric_type="GAUGE",
            labels={"instance": "a"},
            value=1.0,
            ts=dt.datetime(2024, 5, 31, 12, 0, 0),
            buckets=None,
            quantiles=None,
            sample_sum=None,
            sample_count=None,
        ),
        Row(
            name="queries_total",
            metric_type="COUNTER",
            labels={},
            value=42.0,
            ts=None,  # -> now() fallback (prometheus.go:27-32)
            buckets=None,
            quantiles=None,
            sample_sum=None,
            sample_count=None,
        ),
        Row(
            name="query_seconds",
            metric_type="HISTOGRAM",
            labels={"db": "x"},
            value=None,
            ts=dt.datetime(2024, 5, 31, 12, 0, 0),
            buckets=[
                Row(le=0.1, cumulative_count=3),
                Row(le=1.0, cumulative_count=7),
                Row(le=float("inf"), cumulative_count=9),
            ],
            quantiles=None,
            sample_sum=12.5,
            sample_count=9,
        ),
        Row(
            name="latency",
            metric_type="SUMMARY",
            labels=None,
            value=None,
            ts=dt.datetime(2024, 5, 31, 12, 0, 0),
            buckets=None,
            quantiles=[Row(q=0.5, value=0.2), Row(q=0.99, value=1.5)],
            sample_sum=7.5,
            sample_count=30,
        ),
    ]
    return spark.createDataFrame(rows, METRIC_SAMPLE_SCHEMA)


def _kw():
    return dict(
        host=HOST, engine="mysql", region="us-west-2",
        account_id="123456789012", anchor_ts=ANCHOR,
    )


def test_pipeline_labels_always_present(spark):
    out = enrich(_samples(spark), **_kw()).collect()
    assert out
    for row in out:
        labels = row["labels"]
        for k in ("__name__", "identifier", "job", "region", "accountId", "engine"):
            assert k in labels, f"missing {k}"
        # identifier = host truncated at first '.' (prometheus.go:48)
        assert labels["identifier"] == "mydb"
        assert labels["job"] == "database-collector"
        assert row["ts"] is not None


def test_null_ts_gets_anchor(spark):
    out = enrich(_samples(spark), **_kw())
    counter = [r for r in out.collect() if r["labels"]["__name__"] == "queries_total"]
    assert len(counter) == 1
    assert counter[0]["ts"] == dt.datetime(2024, 6, 1, 0, 0, 0)


def test_source_labels_carried(spark):
    out = enrich(_samples(spark), **_kw())
    gauge = [r for r in out.collect() if r["labels"]["__name__"] == "mysql_up"]
    assert gauge[0]["labels"]["instance"] == "a"


def test_reserved_label_collision_pipeline_wins(spark):
    # a source label named like a pipeline label ('engine' here — a
    # plausible TOML-spec label) must not abort the batch under Spark's
    # default mapKeyDedupPolicy=EXCEPTION; the pipeline value wins
    rows = [
        Row(
            name="custom_metric", metric_type="GAUGE",
            labels={"engine": "spoofed", "job": "spoofed", "db": "x"},
            value=1.0, ts=dt.datetime(2024, 5, 31, 12, 0, 0),
            buckets=None, quantiles=None, sample_sum=None, sample_count=None,
        ),
        Row(
            name="hist_metric", metric_type="HISTOGRAM",
            labels={"le": "spoofed", "engine": "spoofed"},
            value=None, ts=dt.datetime(2024, 5, 31, 12, 0, 0),
            buckets=[Row(le=1.0, cumulative_count=2)],
            quantiles=None, sample_sum=3.0, sample_count=2,
        ),
    ]
    df = spark.createDataFrame(rows, METRIC_SAMPLE_SCHEMA)
    out = enrich(df, **_kw()).collect()
    gauge = [r for r in out if r["labels"]["__name__"] == "custom_metric"][0]
    assert gauge["labels"]["engine"] == "mysql"
    assert gauge["labels"]["job"] == "database-collector"
    assert gauge["labels"]["db"] == "x"  # non-reserved labels survive
    bucket = [r for r in out if r["labels"]["__name__"] == "hist_metric_bucket"][0]
    assert bucket["labels"]["le"] == "1.0"  # series key, never the spoof


def test_correct_mode_explodes_histogram(spark):
    out = enrich(_samples(spark), **_kw()).collect()
    names = [r["labels"]["__name__"] for r in out]
    # buckets -> <name>_bucket with le labels, plus _sum and _count
    buckets = [r for r in out if r["labels"]["__name__"] == "query_seconds_bucket"]
    assert len(buckets) == 3
    les = sorted(r["labels"]["le"] for r in buckets)
    assert "+Inf" in les
    by_le = {r["labels"]["le"]: r["value"] for r in buckets}
    assert by_le["+Inf"] == 9.0
    assert "query_seconds_sum" in names and "query_seconds_count" in names
    # summary -> quantile-labeled samples plus _sum/_count
    qs = [r for r in out if r["labels"]["__name__"] == "latency"]
    assert sorted(r["labels"]["quantile"] for r in qs) == ["0.5", "0.99"]
    assert "latency_sum" in names and "latency_count" in names


def test_compat_mode_flattens_to_sample_sum(spark):
    """Reference behavior (prometheus.go:101-107): histogram/summary emit
    one sample under the bare name, value = sample_sum, no le/quantile."""
    out = enrich(_samples(spark), compat_flatten_histograms=True, **_kw()).collect()
    assert len(out) == 4  # one row per input sample, nothing exploded
    hist = [r for r in out if r["labels"]["__name__"] == "query_seconds"]
    assert len(hist) == 1
    assert hist[0]["value"] == 12.5
    assert "le" not in hist[0]["labels"]
    summ = [r for r in out if r["labels"]["__name__"] == "latency"]
    assert summ[0]["value"] == 7.5
    assert "quantile" not in summ[0]["labels"]


def test_enrich_plan_is_shuffle_free(spark, tmp_path):
    """§2.4 is a narrow transform: the physical plan must contain no
    exchange — at 100 TB a shuffle here would be catastrophic. The
    correct-mode collector stage, melt then enrich, is one pass: a
    single scan of the scraped result and no union of per-column or
    per-type branches."""
    plan = enrich(
        _samples(spark), compat_flatten_histograms=True, **_kw()
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", 1, 2.5), ("b", 3, None)], "db string, conns bigint, lag double"
    ).write.parquet(src_path)
    spec = MetricSpec(
        context="engine", request="", labels=["db"],
        metricsdesc={"conns": "connections", "lag": "replica lag"},
    )
    stage = enrich(melt_to_samples(spark.read.parquet(src_path), spec), **_kw())
    plan = stage._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    for node in ("Union", "Exchange", "EvalPython"):
        assert node not in plan, plan
