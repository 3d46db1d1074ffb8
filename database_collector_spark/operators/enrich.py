"""Label enrichment — the reference's central transform (SURVEY.md §2.4).

Re-expresses ConvertMetricFamilyToTimeSeries (reference
collector/internal/utils/prometheus.go:22-120) as a narrow, shuffle-free
DataFrame transform:

1. carry the metric name as ``__name__`` (prometheus.go:36-39),
2. keep all source labels (prometheus.go:40-45),
3. append the 5 pipeline labels (prometheus.go:46-65):
   identifier = host truncated at the first '.', job, region, accountId,
   engine,
4. resolve value by metric type (prometheus.go:69-99),
5. stamp now() (or a supplied anchor) when ts is NULL (prometheus.go:27-32).

Histogram/summary handling is dual-mode (SURVEY §2.6): the reference
*flattens* histograms/summaries to a single sample_sum sample (its bucket
loop at prometheus.go:82-87 is overwritten at :101-107); correct mode
explodes buckets into per-`le` series the way a live Prometheus would
scrape them. Either mode is one ``inline`` generator over a per-sample
array of series followed by one label projection: no union, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PIPELINE_JOB = "database-collector"

# Label names the pipeline itself stamps. A scraped/source label with one
# of these names (a TOML spec can declare e.g. an 'engine' label) is
# dropped before the merge: Spark's default mapKeyDedupPolicy=EXCEPTION
# would otherwise abort the whole enrichment batch with
# DUPLICATED_MAP_KEY, and the precedence choice — pipeline identity wins
# over source-declared collisions — must be deliberate, not a session
# config accident. (The reference appends the duplicate label,
# prometheus.go:40-65, producing an invalid duplicate-label series.)
RESERVED_LABELS = ("__name__", "identifier", "job", "region", "accountId", "engine")


def identifier_from_host(host: Column) -> Column:
    """host truncated at the first '.' (prometheus.go:48) — RDS hostname ->
    instance id."""
    return F.split(host, "\\.").getItem(0)


# Columns a scalar-only input (the metric-config melt) may lack, and the
# type each reads as when absent.
_OPTIONAL = {
    "metric_type": "string",
    "buckets": "array<struct<le:double,cumulative_count:bigint>>",
    "quantiles": "array<struct<q:double,value:double>>",
    "sample_sum": "double",
    "sample_count": "bigint",
}


def _series(
    n: Column, v: Column, k: str | None = None, kv: Column | None = None
) -> Column:
    """One emitted series before labelling: its name, the optional
    per-series label (k = 'le' or 'quantile', kv its value) and value."""
    return F.struct(
        n.alias("n"),
        F.lit(k).cast("string").alias("k"),
        (F.lit(None) if kv is None else kv).cast("string").alias("kv"),
        v.cast("double").alias("v"),
    )


def enrich(
    samples: DataFrame,
    *,
    host: str | Column,
    engine: str | Column,
    region: str,
    account_id: str,
    job: str = PIPELINE_JOB,
    anchor_ts: str | None = None,
    compat_flatten_histograms: bool = False,
) -> DataFrame:
    """metric samples -> enriched TimeSeries rows (labels, value, ts).

    Input must follow METRIC_SAMPLE_SCHEMA; an optional column (type,
    buckets, quantiles, sum, count) that is absent, as in the metric-config
    melt's scalar frames, reads as NULL. Each sample expands to an array
    of (name, le/quantile key, key value, value) series chosen by its
    type; one ``inline`` generator emits them and one projection builds
    each series' label map. No union, no shuffle: fully pipelined by
    whole-stage codegen at any scale.

    ``host`` and ``engine`` are literals, or columns of ``samples`` when
    one frame holds several targets' samples.

    ``anchor_ts`` pins the now() fallback for deterministic tests; None uses
    current_timestamp() like the reference (prometheus.go:31).
    """
    now = F.lit(anchor_ts).cast("timestamp") if anchor_ts else F.current_timestamp()

    def opt(col_name: str) -> Column:
        if col_name in samples.columns:
            return F.col(col_name)
        return F.lit(None).cast(_OPTIONAL[col_name])

    name = F.col("name")
    mtype = F.upper(F.coalesce(opt("metric_type"), F.lit("UNTYPED")))
    is_scalar = mtype.isin("COUNTER", "GAUGE", "UNTYPED")

    if compat_flatten_histograms:
        # Reference behavior (prometheus.go:101-107): histograms/summaries
        # emit ONE sample under the bare name with value = sample_sum.
        value = F.when(is_scalar, F.col("value")).otherwise(opt("sample_sum"))
        series = F.array(_series(name, value))
    else:
        # Correct mode: scalar samples pass through; histograms expand into
        # `<name>_bucket{le=...}` series plus `_sum`/`_count`; summaries into
        # `{quantile=...}` plus `_sum`/`_count`; any other type gets a NULL
        # array, which inline() expands to no row. The input arrays are
        # coalesced to empty first: concat with NULL is NULL and would lose
        # `_sum`/`_count`.
        sum_count = F.array(
            _series(F.concat(name, F.lit("_sum")), opt("sample_sum")),
            _series(F.concat(name, F.lit("_count")), opt("sample_count")),
        )
        buckets = F.transform(
            F.coalesce(opt("buckets"), F.array().cast(_OPTIONAL["buckets"])),
            lambda b: _series(
                F.concat(name, F.lit("_bucket")),
                b["cumulative_count"],
                "le",
                F.when(b["le"] == float("inf"), F.lit("+Inf")).otherwise(
                    b["le"].cast("string")
                ),
            ),
        )
        quantiles = F.transform(
            F.coalesce(opt("quantiles"), F.array().cast(_OPTIONAL["quantiles"])),
            lambda q: _series(name, q["value"], "quantile", q["q"]),
        )
        series = (
            F.when(is_scalar, F.array(_series(name, F.col("value"))))
            .when(mtype == "HISTOGRAM", F.concat(buckets, sum_count))
            .when(mtype == "SUMMARY", F.concat(quantiles, sum_count))
        )

    # Source labels lose the pipeline's reserved names and the series' own
    # key (Spark's default mapKeyDedupPolicy=EXCEPTION would abort the batch
    # on a duplicate). `key <> k` is NULL when k is NULL, hence the IS NULL.
    k = F.col("k")
    source = F.map_filter(
        F.col("labels"),
        lambda key, _v: ~key.isin(*RESERVED_LABELS) & (k.isNull() | (key != k)),
    )
    pipeline = F.create_map(
        F.lit("__name__"), F.col("n"),
        F.lit("identifier"), F.col("identifier"),
        F.lit("job"), F.lit(job),
        F.lit("region"), F.lit(region),
        F.lit("accountId"), F.lit(account_id),
        F.lit("engine"), F.col("engine"),
    )
    # map_concat with a NULL map is NULL: no key, empty map
    empty = F.create_map().cast("map<string,string>")
    series_key = F.when(k.isNull(), empty).otherwise(F.create_map(k, F.col("kv")))
    # the generator projection keeps only what it selects, so the
    # per-sample identity columns are computed there (F.lit passes a
    # Column through unchanged)
    return samples.select(
        F.inline(series),
        F.coalesce(F.col("labels"), empty).alias("labels"),
        F.coalesce(F.col("ts"), now).alias("ts"),
        identifier_from_host(F.lit(host)).alias("identifier"),
        F.lit(engine).alias("engine"),
    ).select(
        F.map_concat(source, pipeline, series_key).alias("labels"),
        F.col("v").alias("value"),
        F.col("ts"),
    )
