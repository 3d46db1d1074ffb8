"""Declarative metric config -> DataFrame pipeline (SURVEY.md §2.11, §7.1#4).

The reference's only extension point is the Oracle custom-metrics TOML
(collector/exporters/oracle/custom-metrics.toml, wired at
oracle-exporter.go:23): *"run this SQL, expose these columns as labels,
these as values."* Fields: ``context`` (metric prefix), ``metricsdesc``
(value column -> help text), ``request`` (SQL), ``labels`` (label columns),
optional ``metricstype``.

Every scraper the engine runs is such an entry. ``ENGINE_CONFIGS`` holds
the shipped per-engine configs (``configs/<route>.toml``): each request
runs via JDBC pushdown (or against a registered view in tests), and its
result is melted into the canonical long-format metric frame — one row
per (label-tuple, value-column).
"""

from __future__ import annotations

import tomllib
from dataclasses import dataclass, field
from functools import reduce
from importlib import resources

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class MetricSpec:
    context: str
    request: str
    metricsdesc: dict[str, str]
    labels: list[str] = field(default_factory=list)
    metricstype: dict[str, str] = field(default_factory=dict)

    def metric_name(self, value_col: str) -> str:
        # '<context>_<valuecol>' — e.g. long_running_sessions_session_duration_hours
        return f"{self.context}_{value_col.lower()}"


# route -> the metric-config TOML of the scrapers the reference enables
# for that engine; the keys are the registry's routes
ENGINE_CONFIGS: dict[str, str] = {
    route: resources.files("database_collector_spark")
    .joinpath("configs", f"{route}.toml")
    .read_text()
    for route in ("mysql", "postgres", "oracle")
}


def load_specs(toml_text: str) -> list[MetricSpec]:
    doc = tomllib.loads(toml_text)
    specs = []
    for entry in doc.get("metric", []):
        specs.append(
            MetricSpec(
                context=entry["context"],
                request=entry["request"],
                metricsdesc=dict(entry.get("metricsdesc", {})),
                labels=list(entry.get("labels", [])),
                metricstype=dict(entry.get("metricstype", {})),
            )
        )
    return specs


def melt_to_samples(result: DataFrame, spec: MetricSpec) -> DataFrame:
    """Query result -> one sample row per (row, value column) whose value
    parses as a number.

    The melt is one projection over one generator: each result row builds
    an array of (name, type, value) structs, one per value column, that
    ``inline`` expands, so the result is read once. No shuffle, no UDF.

    This is the numeric parse of every scrape: ``try_cast``, not ``cast``,
    so a value that is not a number (a TLS key in a status table) becomes
    NULL and is dropped with the NULLs, where ANSI ``cast`` would abort
    the whole tick's write.
    """
    label_map = (
        F.create_map(
            *[
                x
                for lbl in spec.labels
                for x in (F.lit(lbl), F.col(lbl).cast("string"))
            ]
        )
        if spec.labels
        else F.create_map().cast("map<string,string>")
    )
    per_column = F.array(
        *[
            F.struct(
                F.lit(spec.metric_name(value_col)).alias("name"),
                F.lit(spec.metricstype.get(value_col, "gauge").upper()).alias(
                    "metric_type"
                ),
                F.col(value_col).try_cast("double").alias("value"),
            )
            for value_col in spec.metricsdesc
        ]
    )
    return (
        result.select(
            F.inline(per_column),
            label_map.alias("labels"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        .select("name", "metric_type", "labels", "value", "ts")
        .filter(F.col("value").isNotNull())
    )


def run_config(
    spark: SparkSession,
    toml_text: str,
    sources: dict[str, DataFrame],
) -> DataFrame:
    """All specs in a config -> one long-format frame.

    ``sources`` maps view-name -> input DataFrame (scraped or fixture);
    each spec's ``request`` references those view names. Mirrors the
    reference lifecycle: each spec's request is one catalog query; results
    are unioned into the per-target scrape payload.
    """
    for view, df in sources.items():
        df.createOrReplaceTempView(view)
    return reduce(
        DataFrame.union,
        [melt_to_samples(spark.sql(spec.request), spec) for spec in load_specs(toml_text)],
    )
