"""S9 CloudWatch sink against a moto-mocked PutMetricData.

The reference claims CloudWatch publishing (README.md:3) and grants IAM
for it (lib/database-collector.ts:32) but never calls PutMetricData;
sinks/cloudwatch.py implements the claimed surface against the public
API. These tests pin the datum mapping (name from ``__name__``, sorted
dimensions, API caps), the fail-soft value guards, the 1000-per-call
chunking, and an end-to-end publish of an enriched metric frame verified
by reading the metrics back out of moto's CloudWatch.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

import pytest

moto = pytest.importorskip("moto")
boto3 = pytest.importorskip("boto3")

from database_collector_spark.sinks.cloudwatch import (
    MAX_DATUMS_PER_CALL,
    MAX_DIMENSIONS,
    CloudWatchSink,
    chunk_datums,
    to_datum,
)

TS = datetime(2026, 8, 14, 12, 0, 0, tzinfo=timezone.utc)


# --- pure datum mapping -----------------------------------------------------


def test_datum_name_from_name_label_and_sorted_dims():
    d = to_datum({"__name__": "threads_running", "z": "1", "a": "2"}, 7.0, TS)
    assert d["MetricName"] == "threads_running"
    assert d["Dimensions"] == [
        {"Name": "a", "Value": "2"},
        {"Name": "z", "Value": "1"},
    ]
    assert d["Value"] == 7.0 and d["Timestamp"] == TS
    assert d["Unit"] == "None" and d["StorageResolution"] == 60


def test_datum_fail_soft_guards():
    assert to_datum({}, float("nan"), TS) is None
    assert to_datum({}, float("inf"), TS) is None
    assert to_datum({}, -math.inf, TS) is None
    assert to_datum({}, 1e120, TS) is None  # above CloudWatch max magnitude
    # denormal-small flushes to 0.0 instead of being API-rejected
    assert to_datum({}, 1e-120, TS)["Value"] == 0.0
    # missing __name__ -> deterministic fallback, not a crash
    assert to_datum({"host": "h"}, 1.0, TS)["MetricName"] == "unnamed"
    # empty-valued labels are skipped (CloudWatch rejects empty dim values)
    assert to_datum({"__name__": "m", "empty": ""}, 1.0, TS)["Dimensions"] == []


def test_datum_dimension_cap_is_deterministic_sorted_prefix():
    labels = {"__name__": "m", **{f"k{i:02d}": str(i) for i in range(40)}}
    d = to_datum(labels, 1.0, TS)
    assert len(d["Dimensions"]) == MAX_DIMENSIONS
    assert [x["Name"] for x in d["Dimensions"]] == [f"k{i:02d}" for i in range(30)]


def test_chunking_respects_api_cap():
    datums = [{"MetricName": "m", "Value": float(i)} for i in range(2500)]
    sizes = [len(b) for b in chunk_datums(iter(datums))]
    assert sizes == [MAX_DATUMS_PER_CALL, MAX_DATUMS_PER_CALL, 500]


def test_invalid_namespace_rejected():
    with pytest.raises(ValueError):
        CloudWatchSink("")
    with pytest.raises(ValueError):
        CloudWatchSink(":reserved")


# --- moto-backed publish ----------------------------------------------------


@pytest.fixture()
def cw_client(monkeypatch):
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "testing")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    with moto.mock_aws():
        yield boto3.client("cloudwatch")


def test_sink_roundtrip(spark, cw_client):
    # the foreachPartition body, driven in-process over the collected rows
    rows = [
        ({"__name__": "threads_running", "identifier": "db-a"}, 3.0, TS),
        ({"__name__": "threads_running", "identifier": "db-b"}, 5.0, TS),
        ({"__name__": "uptime", "identifier": "db-a"}, 100.0, TS),
        ({"__name__": "bad", "identifier": "db-a"}, float("nan"), TS),
    ]
    df = spark.createDataFrame(rows, "labels map<string,string>, value double, ts timestamp")
    acc = _Acc()
    sink = CloudWatchSink(
        "DatabaseCollector", client_factory=lambda: cw_client, dropped_acc=acc
    )
    sink(df.toLocalIterator())
    assert acc.n == 1  # NaN row dropped fail-soft, not an API error

    names = {
        (m["MetricName"], tuple((d["Name"], d["Value"]) for d in m["Dimensions"]))
        for m in cw_client.list_metrics(Namespace="DatabaseCollector")["Metrics"]
    }
    assert ("threads_running", (("identifier", "db-a"),)) in names
    assert ("threads_running", (("identifier", "db-b"),)) in names
    assert ("uptime", (("identifier", "db-a"),)) in names
    assert not any(n[0] == "bad" for n in names)
    assert len(names) == 3  # the three finite samples shipped

    stats = cw_client.get_metric_statistics(
        Namespace="DatabaseCollector",
        MetricName="threads_running",
        Dimensions=[{"Name": "identifier", "Value": "db-b"}],
        StartTime=TS.replace(hour=11),
        EndTime=TS.replace(hour=13),
        Period=3600,
        Statistics=["Sum", "SampleCount"],
    )["Datapoints"]
    assert len(stats) == 1
    assert stats[0]["Sum"] == 5.0 and stats[0]["SampleCount"] == 1.0


def test_sink_chunks_across_calls(cw_client):
    """__call__ (the foreachPartition body) splits >1000 datums into
    multiple PutMetricData calls; exercised driver-side with an injected
    client (moto patches botocore only in this process)."""
    calls: list[int] = []
    real_put = cw_client.put_metric_data

    class Recorder:
        def put_metric_data(self, Namespace, MetricData):
            calls.append(len(MetricData))
            return real_put(Namespace=Namespace, MetricData=MetricData)

    sink = CloudWatchSink("NS", client_factory=Recorder)
    rows = [
        {"labels": {"__name__": "m", "i": str(i % 7)}, "value": float(i), "ts": TS}
        for i in range(1203)
    ]
    sink(iter(rows))
    assert calls == [1000, 203]
    got = cw_client.list_metrics(Namespace="NS")["Metrics"]
    assert len(got) == 7  # one series per distinct dimension value


def test_empty_partition_builds_no_client():
    def boom():  # client_factory that must never be called
        raise AssertionError("client built for an empty partition")

    CloudWatchSink("NS", client_factory=boom)(iter([]))


class _Acc:
    def __init__(self):
        self.n = 0

    def add(self, v):
        self.n += v


def test_dropped_samples_counted_into_accumulator():
    import math

    from database_collector_spark.sinks.cloudwatch import CloudWatchSink

    calls = []

    class _Client:
        def put_metric_data(self, Namespace, MetricData):
            calls.append(len(MetricData))

    acc = _Acc()
    sink = CloudWatchSink("ns", client_factory=_Client, dropped_acc=acc)
    rows = [
        {"labels": {"__name__": "m"}, "value": 1.0, "ts": None},
        {"labels": {"__name__": "m"}, "value": math.nan, "ts": None},
        {"labels": {"__name__": "m"}, "value": math.inf, "ts": None},
        {"labels": {"__name__": "m"}, "value": 2.0, "ts": None},
    ]
    sink(iter(rows))
    assert acc.n == 2
    assert sum(calls) == 2


def test_nonpositive_chunk_raises():
    import pytest

    from database_collector_spark.sinks.cloudwatch import CloudWatchSink

    with pytest.raises(ValueError):
        CloudWatchSink("ns", chunk=0)
    with pytest.raises(ValueError):
        CloudWatchSink("ns", chunk=-3)


def test_dropped_acc_counts_through_real_executor_path(spark):
    import math

    from pyspark.sql import Row

    from database_collector_spark.sinks.cloudwatch import CloudWatchSink, write_batch

    class _NullClient:
        def put_metric_data(self, Namespace, MetricData):
            pass

    acc = spark.sparkContext.accumulator(0)
    sink = CloudWatchSink("ns", client_factory=_NullClient, dropped_acc=acc)
    df = spark.createDataFrame(
        [
            ({"__name__": "m"}, 1.0, None),
            ({"__name__": "m"}, float("nan"), None),
            ({"__name__": "m"}, float("inf"), None),
            ({"__name__": "m"}, 2.0, None),
        ],
        "labels map<string,string>, value double, ts timestamp",
    ).repartition(3)
    write_batch(df, sink)
    # the accumulator is the executor->driver drop-telemetry channel
    assert acc.value == 2
