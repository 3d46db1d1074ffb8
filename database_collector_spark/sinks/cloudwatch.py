"""CloudWatch PutMetricData sink (SURVEY.md §2.1 S9).

The reference CLAIMS CloudWatch publishing (README.md:3 "publishes them to
databases ... to CloudWatch and Prometheus") and grants the IAM policy for
it (lib/database-collector.ts:32 CloudWatchFullAccessV2), but no
``PutMetricData`` call exists anywhere in ``collector/`` — the claim is
README-only. This module implements what that claim describes, against the
public CloudWatch API, so the engine actually delivers the advertised
surface.

Input shape is the engine's enriched metric frame
(``model/schemas.py::TIMESERIES_SCHEMA``): ``labels: map<string,string>``
with the metric name carried in-map as ``__name__`` (prometheus.go:36-39
convention, shared with the remote-write sink), ``value: double``,
``ts: timestamp``.

Spark-first shape: ``df.foreachPartition(sink)`` — each executor partition
creates its own boto3 client and ships its own chunks, so throughput
scales with the cluster instead of funneling through the driver. That
is the only publish path; the in-process moto tests drive the same
``sink`` over ``df.toLocalIterator()``, since moto's ``mock_aws`` patches
botocore only in the calling process.

Public API limits honored (CloudWatch PutMetricData documentation):

* <= 1000 MetricDatum per request (and ~1 MB payload; 1000 plain datums
  sit well under it);
* <= 30 dimensions per metric — excess label pairs are dropped
  deterministically (lexicographically-sorted prefix kept);
* values must be finite and within ~[8.515920e-109, 1.174271e+108] in
  magnitude — NaN/Inf/oversized samples are dropped fail-soft, counted
  into the optional ``dropped_acc`` Spark accumulator (the executor-side
  channel for drop telemetry; without one the drop is silent by choice),
  denormal-small magnitudes are flushed to 0.0 (all mirroring how the
  engine's other boundaries fail soft instead of panicking, unlike
  secrets-manager.go:51);
* dimension names/values must be non-empty — empty-valued labels are
  skipped (CloudWatch rejects them).

boto3 is import-gated exactly like sources/aws_discovery.py — the datum
mapping and chunking are pure functions, always testable without AWS.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from datetime import datetime, timezone

try:  # pragma: no cover - exercised via moto in tests
    import boto3
except ImportError:  # pragma: no cover
    boto3 = None

# Public PutMetricData limits.
MAX_DATUMS_PER_CALL = 1000
MAX_DIMENSIONS = 30
# CloudWatch-supported magnitude range (public docs): values outside are
# rejected by the API; below the small bound we flush to zero (the value
# is indistinguishable from 0 at CloudWatch's resolution).
_MAX_MAGNITUDE = 1.174271e108
_MIN_MAGNITUDE = 8.515920e-109

NAME_LABEL = "__name__"
DEFAULT_METRIC_NAME = "unnamed"


def to_datum(
    labels: dict[str, str] | None,
    value: float,
    ts,
    *,
    unit: str = "None",
    storage_resolution: int = 60,
) -> dict | None:
    """One labels/value/ts sample -> a PutMetricData MetricDatum dict.

    Returns None (fail-soft drop) when the value is not representable in
    CloudWatch (NaN/Inf/magnitude overflow). Label pairs beyond the
    30-dimension API cap are dropped deterministically: labels are sorted
    by name and the first 30 kept, so the same series always maps to the
    same dimension set regardless of partitioning.
    """
    v = float(value)
    if math.isnan(v) or math.isinf(v) or abs(v) > _MAX_MAGNITUDE:
        return None
    if 0.0 < abs(v) < _MIN_MAGNITUDE:
        v = 0.0
    labels = dict(labels or {})
    name = labels.pop(NAME_LABEL, None) or DEFAULT_METRIC_NAME
    dims = [
        {"Name": k[:255], "Value": str(val)[:255]}
        for k, val in sorted(labels.items())
        if k and str(val) != ""
    ][:MAX_DIMENSIONS]
    if isinstance(ts, (int, float)):
        ts = datetime.fromtimestamp(float(ts), tz=timezone.utc)
    elif ts is not None and ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    datum = {
        "MetricName": str(name)[:255],
        "Dimensions": dims,
        "Value": v,
        "Unit": unit,
        "StorageResolution": storage_resolution,
    }
    if ts is not None:
        datum["Timestamp"] = ts
    return datum


def chunk_datums(datums: Iterator[dict], size: int = MAX_DATUMS_PER_CALL):
    """Yield lists of <= ``size`` datums (the per-request API cap)."""
    batch: list[dict] = []
    for d in datums:
        batch.append(d)
        if len(batch) >= size:
            yield batch
            batch = []
    if batch:
        yield batch


class CloudWatchSink:
    """foreachPartition / foreachBatch writer.

    Instances are pickled to executors, so construction takes only plain
    config; the boto3 client is created lazily per partition (the same
    contract as RemoteWriteSink in sinks/remote_write.py). For tests a
    picklable ``client_factory`` may be injected (e.g. one pointing at a
    moto server endpoint with dummy credentials).
    """

    def __init__(
        self,
        namespace: str,
        *,
        region: str | None = None,
        endpoint_url: str | None = None,
        unit: str = "None",
        storage_resolution: int = 60,
        chunk: int = MAX_DATUMS_PER_CALL,
        client_factory: Callable[[], object] | None = None,
        dropped_acc=None,
    ) -> None:
        if not namespace or namespace.startswith(":"):
            raise ValueError(f"invalid CloudWatch namespace: {namespace!r}")
        if int(chunk) < 1:
            # a non-positive chunk would silently degrade to one datum
            # per API call (1000x the request traffic) — loud instead
            raise ValueError(f"chunk must be >= 1, got {chunk}")
        self.namespace = namespace
        self.region = region
        self.endpoint_url = endpoint_url
        self.unit = unit
        self.storage_resolution = storage_resolution
        self.chunk = min(int(chunk), MAX_DATUMS_PER_CALL)
        self.client_factory = client_factory
        # optional Spark accumulator (anything with .add(int)): the
        # executor->driver channel for fail-soft drop counts
        self.dropped_acc = dropped_acc

    def _client(self):
        if self.client_factory is not None:
            return self.client_factory()
        if boto3 is None:  # pragma: no cover - environmental
            raise RuntimeError("boto3 is not installed; pass client_factory")
        kwargs: dict = {}
        if self.region:
            kwargs["region_name"] = self.region
        if self.endpoint_url:
            kwargs["endpoint_url"] = self.endpoint_url
        return boto3.client("cloudwatch", **kwargs)

    # rows: Row(labels: map, value: double, ts: timestamp)
    def __call__(self, rows: Iterator) -> None:
        client = None

        def datums_of(rows):
            for row in rows:
                d = to_datum(
                    row["labels"],
                    row["value"],
                    row["ts"],
                    unit=self.unit,
                    storage_resolution=self.storage_resolution,
                )
                if d is None:
                    if self.dropped_acc is not None:
                        self.dropped_acc.add(1)
                    continue
                yield d

        for batch in chunk_datums(datums_of(rows), self.chunk):
            if client is None:  # lazy: empty partitions never build a client
                client = self._client()
            client.put_metric_data(Namespace=self.namespace, MetricData=batch)


def write_batch(df, sink: CloudWatchSink) -> None:
    """Batch entry: enriched TimeSeries frame -> CloudWatch, one client and
    chunk stream per partition."""
    df.foreachPartition(sink)
