"""PySpark-native analytics engine with the query and data-processing
capabilities of truemark/database-collector, rebuilt Spark-first.

The reference (/root/reference, see SURVEY.md) is a periodic database-metrics
ETL pipeline: discover sources -> scrape catalog SQL -> enrich labels ->
remote-write sink, plus an RDS-events streaming counter. This package
re-expresses that surface as declarative DataFrame plans that Catalyst
optimizes, and extends it with the large-scale training-data operators
(dedup, similarity search, multimodal columns, text analysis) sized for
100 TB / 1000-executor clusters.

Layout:
    model/      canonical schemas (long-format metric samples, registry, events)
    sources/    source discovery registry + the JDBC scrape
    configs/    per-engine metric-config TOMLs: the SQL each engine scrapes
    plans/      declarative metric-config (TOML semantics) -> DataFrame compiler
    operators/  enrichment, diffs, dedup, similarity, text, multimodal
    streaming/  Structured Streaming events path
    sinks/      Prometheus remote-write encoder, parquet sink
"""

__version__ = "0.1.0"
