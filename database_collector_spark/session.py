"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same settings are what we would ship to a
1000-executor cluster, minus the memory knobs: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), shuffle partitions sized to the
cluster, Arrow enabled for the pandas-UDF slow path, UTC session timezone so
timestamp semantics are engine-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def cpus() -> int:
    """``SPARK_GRAFT_CPUS`` (sizes local[N] and the shuffle partitions),
    else the CPUs this process may run on: its affinity mask, which
    containers and taskset narrow, or the machine's count where the
    platform has no affinity call."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return int(os.environ["SPARK_GRAFT_CPUS"])
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


DEFAULT_SHUFFLE_PARTITIONS = cpus()

# The directory holding this package. Python workers start in the driver's
# working directory, so without it on their path a mapInPandas kernel that
# imports the package fails when the driver runs from anywhere else.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "database-collector-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    At 100 TB, ``spark.sql.shuffle.partitions`` should be ~2-3x total cores
    and AQE coalesces the tail; locally we match core count so small-SF tests
    don't pay 200-partition scheduling overhead.

    Cluster-side knobs deliberately NOT set here (no-ops at fixture
    scale, so any local "win" from them would be untestable): raise
    ``spark.sql.files.maxPartitionBytes`` toward 512m-1g for large
    sequential parquet scans (fewer map tasks feeding each shuffle) and
    consider ``spark.io.compression.codec=zstd`` for shuffle-heavy jobs
    (better ratio than lz4 for a bit more CPU — measure shuffle bytes
    vs stage time on the real corpus first). Pass them via
    ``extra_conf`` in a cluster deployment.
    """
    builder = (
        SparkSession.builder.master(f"local[{cpus()}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate substitutes the full generator expression
        # into an inferred size()>0 predicate and pushes it below exchanges —
        # for the shingle pipeline that re-evaluates the whole
        # transform/array_distinct chain at scan parallelism (measured 6.7 s
        # of an 8 s explode stage at sf0.1; see operators/dedup.py). Every
        # explode in this engine already guards its input explicitly, so the
        # inferred predicate is redundant here. Set at session build (not
        # per-query) because optimizer rules apply at ACTION time — a
        # save-and-restore around lazy plan construction would not govern
        # execution, and a hidden per-operator setter would make unrelated
        # plans order-dependent.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        # Some events.parquet fixture generations carry TIMESTAMP(NANOS),
        # which Spark only reads with this flag (surfaced as long; the
        # reader in workloads._t converts back to a timestamp). Harmless
        # for MICROS files — set once here instead of mutating session
        # conf inside a table reader (hidden side effect, not thread-safe).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource filter pushdown (sources/prom_source.py
        # consumes EqualTo('name') at parse time)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Warm the JVM and the parquet footer caches, then the Python worker
    pool and Arrow lanes, so timed queries measure the plan rather than
    first-touch JIT and ~4 s of worker daemon spin-up."""
    from database_collector_spark import workloads

    workloads.q_pricing_summary(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A frame over driver-held ``rows`` (tuples in ``ddl``'s column
    order) as a ``LocalRelation``: the rows travel inside the plan, so
    broadcasting the frame is one ``LocalTableScan`` task. Python rows
    handed to ``createDataFrame`` become a scan of a parallelized Python
    RDD instead, whose broadcast runs a multi-task job that starts
    Python workers. An Arrow table stays a ``LocalRelation`` whether or
    not ``spark.sql.execution.arrow.pyspark.enabled`` is set; a pandas
    frame does not."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
