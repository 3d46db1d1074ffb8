"""Property-based enrichment invariants (SURVEY.md §5 item 5): random
label sets / metric types / timestamps through enrich() must always yield
the 5 pipeline labels, a non-null timestamp, and finite values.

Hypothesis drives the INPUT GENERATION only; each example batch runs
through the real Spark transform. Examples are kept small and the example
count modest — each is a full Spark job.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from database_collector_spark.model.schemas import METRIC_SAMPLE_SCHEMA
from database_collector_spark.operators.enrich import RESERVED_LABELS, enrich

ANCHOR = "2024-06-01 00:00:00"
PIPELINE_LABELS = {"identifier", "job", "region", "accountId", "engine"}

label_keys = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8
).filter(lambda k: k not in PIPELINE_LABELS and k != "__name__")

samples_strategy = st.lists(
    st.fixed_dictionaries(
        {
            "name": st.text(alphabet="abcdefg_", min_size=1, max_size=12),
            "metric_type": st.sampled_from(
                ["COUNTER", "GAUGE", "UNTYPED", None]
            ),
            "labels": st.dictionaries(
                label_keys,
                st.text(alphabet="xyz0189.-", max_size=6),
                max_size=4,
            ),
            "value": st.floats(
                allow_nan=False,
                allow_infinity=False,
                min_value=-1e12,
                max_value=1e12,
            ),
            "ts": st.one_of(
                st.none(),
                st.datetimes(
                    min_value=dt.datetime(2020, 1, 1),
                    max_value=dt.datetime(2030, 1, 1),
                ),
            ),
        }
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(samples=samples_strategy)
def test_enrich_invariants(spark, samples):
    rows = [
        Row(
            name=s["name"],
            metric_type=s["metric_type"],
            labels=s["labels"],
            value=s["value"],
            ts=s["ts"],
            buckets=None,
            quantiles=None,
            sample_sum=None,
            sample_count=None,
        )
        for s in samples
    ]
    df = spark.createDataFrame(rows, METRIC_SAMPLE_SCHEMA)
    out = enrich(
        df,
        host="db-1.cluster.rds.amazonaws.com",
        engine="mysql",
        region="us-west-2",
        account_id="123",
        anchor_ts=ANCHOR,
    ).collect()

    assert len(out) == len(rows)  # scalar samples map 1:1
    for r in out:
        labels = r["labels"]
        # 5 pipeline labels always present with pipeline values
        # (prometheus.go:46-65), regardless of source label collisions
        assert PIPELINE_LABELS <= set(labels)
        assert labels["identifier"] == "db-1"  # truncation at first '.'
        assert labels["job"] == "database-collector"
        assert labels["engine"] == "mysql"
        # name carried as __name__
        assert labels["__name__"]
        # timestamp never null: source ts or the anchor
        assert r["ts"] is not None
        # values remain finite
        assert r["value"] is None or math.isfinite(r["value"])


# Differential strategy: every metric type the reference switches on
# (prometheus.go:69-99) plus lowercase, unknown and NULL types; NULL and
# empty bucket/quantile arrays; source labels that collide with the
# per-series keys (le, quantile) or the pipeline's own labels.
_LES = [0.1, 0.25, 1.0, 2.5, 10.0, float("inf"), None]
_QS = [0.0, 0.5, 0.9, 0.99, 1.0]
_TS = [None, dt.datetime(2024, 5, 31, 12, 0, 0), dt.datetime(2021, 3, 1, 7, 30, 15)]
_maybe_count = st.one_of(st.none(), st.integers(min_value=0, max_value=10**6))
_maybe_value = st.one_of(
    st.none(),
    st.floats(allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9),
)

typed_samples_strategy = st.lists(
    st.fixed_dictionaries(
        {
            "name": st.text(alphabet="abc_", min_size=1, max_size=6),
            "metric_type": st.sampled_from(
                ["COUNTER", "GAUGE", "UNTYPED", None, "HISTOGRAM", "SUMMARY",
                 "histogram", "summary", "gauge", "stateset", ""]
            ),
            "labels": st.one_of(
                st.none(),
                st.dictionaries(
                    st.sampled_from(
                        ["db", "le", "quantile", "engine", "__name__", "job"]
                    ),
                    st.one_of(st.none(), st.text(alphabet="xy1.", max_size=3)),
                    max_size=3,
                ),
            ),
            "value": _maybe_value,
            "ts": st.sampled_from(_TS),
            "buckets": st.one_of(
                st.none(),
                st.lists(
                    st.tuples(st.sampled_from(_LES), _maybe_count), max_size=3
                ),
            ),
            "quantiles": st.one_of(
                st.none(),
                st.lists(st.tuples(st.sampled_from(_QS), _maybe_value), max_size=3),
            ),
            "sample_sum": _maybe_value,
            "sample_count": _maybe_count,
        }
    ),
    min_size=1,
    max_size=6,
)


def _reference_series(s, *, compat, pipeline):
    """Pure-Python ConvertMetricFamilyToTimeSeries (prometheus.go:22-120):
    yields (labels, value, ts) per emitted series. ``compat`` selects the
    reference's flattening; otherwise the per-``le``/``quantile``
    exposition a live scrape produces."""
    mtype = (s["metric_type"] if s["metric_type"] is not None else "UNTYPED").upper()
    scalar = mtype in ("COUNTER", "GAUGE", "UNTYPED")
    ts = s["ts"] if s["ts"] is not None else dt.datetime(2024, 6, 1)
    count = None if s["sample_count"] is None else float(s["sample_count"])
    name = s["name"]

    def series(n, v, k=None, kv=None):
        src = {
            key: val for key, val in (s["labels"] or {}).items()
            if key not in RESERVED_LABELS and key != k
        }
        extra = {} if k is None else {k: kv}
        return ({**src, **pipeline, "__name__": n, **extra}, v, ts)

    if compat:
        yield series(name, s["value"] if scalar else s["sample_sum"])
        return
    if scalar:
        yield series(name, s["value"])
        return
    if mtype == "HISTOGRAM":
        for le, c in s["buckets"] or []:
            le_s = None if le is None else "+Inf" if le == float("inf") else str(le)
            yield series(f"{name}_bucket", None if c is None else float(c), "le", le_s)
    elif mtype == "SUMMARY":
        for q, v in s["quantiles"] or []:
            yield series(name, v, "quantile", str(q))
    else:
        return  # an unknown type emits no series
    yield series(f"{name}_sum", s["sample_sum"])
    yield series(f"{name}_count", count)


def _multiset(triples):
    return Counter(
        (frozenset(labels.items()), value, ts) for labels, value, ts in triples
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(samples=typed_samples_strategy, scalar_only=st.booleans())
def test_enrich_matches_reference_model(spark, samples, scalar_only):
    """Both modes of enrich() emit exactly the reference model's series
    multiset; ``scalar_only`` drops the optional columns, as the metric
    config melt does, so they are read as NULL."""
    fields = METRIC_SAMPLE_SCHEMA.fieldNames()
    df = spark.createDataFrame(
        [tuple(s[f] for f in fields) for s in samples], METRIC_SAMPLE_SCHEMA
    )
    if scalar_only:
        df = df.select("name", "labels", "value", "ts")
        optional = dict(metric_type=None, buckets=None, quantiles=None,
                        sample_sum=None, sample_count=None)
        samples = [{**s, **optional} for s in samples]
    kw = dict(host="db-1.cluster.rds.amazonaws.com", engine="mysql",
              region="us-west-2", account_id="123", anchor_ts=ANCHOR)
    pipeline = {"identifier": "db-1", "job": "database-collector",
                "region": "us-west-2", "accountId": "123", "engine": "mysql"}
    for compat in (False, True):
        out = enrich(df, compat_flatten_histograms=compat, **kw).collect()
        want = [
            t for s in samples
            for t in _reference_series(s, compat=compat, pipeline=pipeline)
        ]
        got = [(r["labels"], r["value"], r["ts"]) for r in out]
        assert _multiset(got) == _multiset(want), f"compat={compat}"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    host=st.text(
        alphabet="abcdefghij0123456789.-", min_size=1, max_size=30
    ).filter(lambda h: not h.startswith("."))
)
def test_identifier_is_host_prefix(spark, host):
    df = spark.createDataFrame(
        [
            Row(
                name="m",
                metric_type="GAUGE",
                labels={},
                value=1.0,
                ts=None,
                buckets=None,
                quantiles=None,
                sample_sum=None,
                sample_count=None,
            )
        ],
        METRIC_SAMPLE_SCHEMA,
    )
    (row,) = enrich(
        df,
        host=host,
        engine="postgres",
        region="r",
        account_id="a",
        anchor_ts=ANCHOR,
    ).collect()
    assert row["labels"]["identifier"] == host.split(".")[0]
