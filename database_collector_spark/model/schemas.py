"""Canonical schemas (SURVEY.md §1.3).

The reference's row-oriented Go structs become explicit StructTypes; the
label array of Prometheus TimeSeries (reference
collector/internal/utils/prometheus.go:35-67) becomes MapType, and
histogram/summary structure is kept (not flattened — fixing the lossy
behavior documented in SURVEY §2.6) as typed array columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# A monitoring target, discovered from the secrets registry.
# Mirrors the JSON secret parsed at reference
# collector/cmd/collector/database-collector.go:39-46 plus the tag map the
# discovery filter inspects (collector/internal/aws/secrets-manager.go:34-39).
SOURCES_REGISTRY_SCHEMA = T.StructType(
    [
        T.StructField("secret_name", T.StringType(), False),
        T.StructField("engine", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("port", T.IntegerType(), True),
        T.StructField("username", T.StringType(), True),
        T.StructField("password", T.StringType(), True),
        T.StructField("dbname", T.StringType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# The secret value itself when parsed from JSON (dynamic object in the
# reference — database-collector.go:39; explicit nullable struct here so a
# missing field is a NULL, not a Go type-assertion panic).
SECRET_JSON_SCHEMA = T.StructType(
    [
        T.StructField("engine", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("port", T.StringType(), True),
        T.StructField("username", T.StringType(), True),
        T.StructField("password", T.StringType(), True),
        T.StructField("dbname", T.StringType(), True),
    ]
)

# Canonical long-format metric sample (reference prometheus.go:25-109):
# one row per (name, labels) sample; histogram buckets / summary quantiles
# carried as typed arrays instead of being flattened away.
METRIC_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("metric_type", T.StringType(), True),  # COUNTER|GAUGE|HISTOGRAM|SUMMARY|UNTYPED
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("ts", T.TimestampType(), True),  # NULL -> enrichment stamps now()
        T.StructField(
            "buckets",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("le", T.DoubleType(), True),
                        T.StructField("cumulative_count", T.LongType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "quantiles",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("q", T.DoubleType(), True),
                        T.StructField("value", T.DoubleType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("sample_sum", T.DoubleType(), True),
        T.StructField("sample_count", T.LongType(), True),
    ]
)

# Enriched output row — the TimeSeries analog (prometheus.go:34-108): the
# five pipeline labels are merged into `labels`; `__name__` carried in-map.
TIMESERIES_SCHEMA = T.StructType(
    [
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# RDS service event (reference collector/cmd/events-collector/events-collector.go:12-20).
RDS_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("EventCategories", T.ArrayType(T.StringType()), True),
        T.StructField("SourceType", T.StringType(), True),
        T.StructField("SourceArn", T.StringType(), True),
        T.StructField("Date", T.StringType(), True),
        T.StructField("SourceIdentifier", T.StringType(), True),
        T.StructField("Message", T.StringType(), True),
        T.StructField("EventID", T.StringType(), True),
    ]
)
