"""Parquet/table sink for enriched time-series (testing + lake landing).

The reference only ships to Prometheus remote-write; a Spark-native engine
also lands the long-format frame in columnar storage. Partitioning policy
for 100 TB of metrics: partition by event date (low cardinality, prunes
time-range queries), never by metric name or label values (unbounded
cardinality -> small-file explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def overwrite_partitions(df: DataFrame, path: str) -> None:
    """Idempotent re-run semantics for a scheduled batch: replace exactly
    the date partitions present in ``df``, leave every other partition
    untouched (dynamic partition overwrite).

    This is what makes the 5-minute collection loop safe to retry: a
    re-run of a failed tick rewrites that tick's dates instead of
    appending duplicates (append mode) or truncating history (static
    overwrite, which drops ALL partitions). The mode is a writer option,
    not a session conf, so no other job sharing the session ever sees
    it."""
    (
        df.withColumn("ds", F.to_date("ts"))
        .write.partitionBy("ds")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )


def compact_partitions(spark, path: str) -> None:
    """Small-file compaction: rewrite each date partition as one file.

    A 5-minute cadence writing per-tick files produces 288 files/partition/
    day — metadata pressure and tiny scans at 100 TB. Hash-repartitioning
    on the partition column sends each date's rows to exactly one task, so
    the partitionBy write emits one file per date (a task holding two
    dates still writes them to separate files).

    The input is materialized (localCheckpoint) before the overwrite:
    Spark's scan is lazy per task, so overwriting the path being read
    would otherwise race the rewrite against its own source. For
    larger-than-cluster-storage datasets, compact date ranges in slices
    instead (same write, filtered read, no checkpoint needed since the
    dynamic overwrite only touches the slice's partitions... as long as
    the slice is read with its own distinct source path filter)."""
    df = spark.read.parquet(path).localCheckpoint(eager=True)
    n_ds = df.select("ds").distinct().count()
    (
        df.repartition(max(1, n_ds), F.col("ds"))
        .write.partitionBy("ds")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )
