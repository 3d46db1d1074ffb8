"""Collector and relational-SQL gates, plus the helpers every gate module
shares.

Each gate is ``q_<name>(spark, sf_dir) -> DataFrame`` over the parquet
tables under ``sf_dir``, paired with a DuckDB SQL twin in ``ORACLES``.
This module holds the collector-shaped queries (grouped counters,
registry diffs, engine dispatch, label enrichment) and the relational
surface: joins, set operations, windows, grouping sets, scalar
functions, nested aggregates and skyline. The other domain modules
import ``_t`` (table reader), ``_cents`` (money as integer cents) and
the public SQL fragments below that two domains share.

Conventions that make the DuckDB value-hash gate deterministic:

* Money columns in the testdata are 2-decimal exact, so aggregates use
  integer-cents arithmetic (``CAST(ROUND(x*100) AS BIGINT)``), summed in
  DECIMAL when products can approach int64 range, and only converted to
  DOUBLE as the final step. Bit-identical across engines.
* Every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver sorts columns by name before hashing).
* Window orderings are made total with key tie-breaks; collected lists
  are explicitly sorted.
* No wall-clock: ``now()`` semantics use a fixed anchor timestamp.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


QueryFn = Callable[[SparkSession, str], DataFrame]

ANCHOR_TS = "2001-09-01 00:00:00"  # deterministic stand-in for SYSDATE/now()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated table.

    ``events.parquet`` has shipped with two generations of ``ts`` physical
    type: TIMESTAMP(NANOS) (which Spark's parquet reader surfaces only via
    ``nanosAsLong``) and plain TIMESTAMP(MICROS). Adapt to whichever this
    fixture carries so queries always see a microsecond timestamp column
    (nanos truncate — matching how DuckDB surfaces the same column).
    """
    if name == "events":
        # session.py sets nanosAsLong at build time; guard here only for
        # foreign sessions (the external driver may construct its own) and
        # skip the mutation when the conf is already in effect.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes)["ts"] == "bigint":  # nanos surfaced as long
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        df = _fan_out(df)
    return df


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread an under-split scan across the cluster.

    The driver fixtures are single-row-group parquet files, so the scan
    yields 1 input split and every downstream per-row computation runs on
    one core. A 100 TB table arrives in thousands of splits and never hits
    this; the repartition reproduces that natural layout locally (and is a
    no-op decision at scale: it only fires when the source has fewer
    splits than the cluster has slots). Applied to the per-row-compute
    tables (documents, embeddings) where hashing/linear-algebra work
    dwarfs the one-extra-pass shuffle; aggregation-shaped tables skip it —
    partial aggregation already collapses their rows before any exchange.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _cents(c: str) -> F.Column:
    """2-dp-exact double -> integer cents (engine-independent)."""
    return F.round(F.col(c) * 100).cast("long")


# ---------------------------------------------------------------------------
# Reference-parity workloads (SURVEY.md §2)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship scan->filter->groupBy->agg (SURVEY §2.5 A4 class).

    TPC-H-Q1-shaped pricing summary over lineitem. The shape matches the
    upstream scrapers' aggregation surface (COUNT/SUM GROUP BY — e.g. the
    v$session counts enabled via collector/exporters/oracle/oracle-exporter.go:22).
    Catalyst pushes the shipdate filter and column pruning into the parquet
    scan; partial aggregation keeps the shuffle at |groups| not |rows|.
    """
    li = _t(spark, sf_dir, "lineitem")
    qty = _cents("l_quantity")
    price = _cents("l_extendedprice")
    disc = F.round(F.col("l_discount") * 100).cast("long")  # basis points /100
    tax = F.round(F.col("l_tax") * 100).cast("long")
    disc_price = (price * (100 - disc)).cast("decimal(38,0)")
    charge = (price * (100 - disc) * (100 + tax)).cast("decimal(38,0)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty).cast("double") / 100).alias("sum_qty"),
            (F.sum(price).cast("double") / 100).alias("sum_base_price"),
            (F.sum(disc_price).cast("double") / 10000).alias("sum_disc_price"),
            (F.sum(charge).cast("double") / 1000000).alias("sum_charge"),
            (F.sum(qty).cast("double") / 100 / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("double") / 100 / F.count("*")).alias("avg_price"),
            (F.sum(disc).cast("double") / 100 / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/100 AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100 AS sum_base_price,
       CAST(SUM(CAST(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS DECIMAL(38,0))) AS DOUBLE)/10000 AS sum_disc_price,
       CAST(SUM(CAST(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
                * (100 + CAST(ROUND(l_tax*100) AS BIGINT)) AS DECIMAL(38,0))) AS DOUBLE)/1000000 AS sum_charge,
       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/100/COUNT(*) AS avg_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100/COUNT(*) AS avg_price,
       CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS DOUBLE)/100/COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_long_running_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one first-party SQL query, re-expressed (SURVEY §2.9).

    collector/exporters/oracle/custom-metrics.toml:4-16 — scan -> derived
    duration column (date arithmetic, F6) -> IS NOT NULL + threshold + LIKE
    conjunctive filter (P5) -> ORDER BY DESC. Mapped onto ``orders`` with a
    fixed anchor replacing SYSDATE: duration_hours since o_orderdate, rows
    with priority LIKE '1%' held longer than 10000 hours.
    """
    orders = _t(spark, sf_dir, "orders")
    dur = F.round(
        (
            F.unix_timestamp(F.lit(ANCHOR_TS).cast("timestamp"))
            - F.unix_timestamp(F.col("o_orderdate"))
        )
        / F.lit(3600.0),
        2,
    )
    return (
        orders.withColumn("session_duration_hours", dur)
        .filter(
            F.col("o_orderpriority").isNotNull()
            & (F.col("session_duration_hours") > 10000)
            & F.col("o_orderpriority").like("1%")
        )
        .select(
            F.col("o_orderkey").alias("sid"),
            F.col("o_custkey").alias("serial"),
            F.col("o_orderpriority").alias("username"),
            "session_duration_hours",
        )
        .orderBy(F.desc("session_duration_hours"), "sid")
    )


SQL_LONG_RUNNING_SESSIONS = f"""
SELECT o_orderkey AS sid, o_custkey AS serial, o_orderpriority AS username,
       ROUND(date_diff('second', o_orderdate, TIMESTAMP '{ANCHOR_TS}')/3600.0, 2)
         AS session_duration_hours
FROM orders
WHERE o_orderpriority IS NOT NULL
  AND ROUND(date_diff('second', o_orderdate, TIMESTAMP '{ANCHOR_TS}')/3600.0, 2) > 10000
  AND o_orderpriority LIKE '1%'
ORDER BY session_duration_hours DESC, sid
"""


def q_grouped_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events counter keyed by labels, with the len==1 -> 'none' quirk.

    collector/cmd/events-collector/events-collector.go:22-28,43-47 — the
    running grouped count (A1) plus presence-check quirk (P7): a 1-char
    EventID is replaced by the literal label 'none'.
    """
    ev = _t(spark, sf_dir, "events")
    label = F.when(F.length(F.col("user_id").cast("string")) == 1, F.lit("none")).otherwise(
        F.col("user_id").cast("string")
    )
    return (
        ev.withColumn("event_label", label)
        .groupBy("event_label", "event_type")
        .agg(F.count("*").alias("n"))
    )


SQL_GROUPED_COUNTER = """
SELECT CASE WHEN length(CAST(user_id AS VARCHAR)) = 1 THEN 'none'
            ELSE CAST(user_id AS VARCHAR) END AS event_label,
       event_type, COUNT(*) AS n
FROM events
GROUP BY 1, 2
"""


def q_registry_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-registry refresh diff as anti-joins (SURVEY §2.3 J1).

    collector/cmd/collector/database-collector.go:91-166 — adds = current
    minus previous, removes = previous minus current, on the registry key.
    Emulated over orders: 'previous' registry = customers active before
    1997, 'current' = active 1996+. Anti-joins avoid a full shuffle of the
    wide side and broadcast when one snapshot is small.
    """
    orders = _t(spark, sf_dir, "orders")
    prev = (
        orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    curr = (
        orders.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    adds = curr.join(prev, "o_custkey", "left_anti").withColumn("action", F.lit("add"))
    removes = prev.join(curr, "o_custkey", "left_anti").withColumn(
        "action", F.lit("remove")
    )
    return adds.unionByName(removes)


SQL_REGISTRY_DIFF = """
WITH prev AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
     curr AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01')
SELECT o_custkey, 'add' AS action FROM (SELECT o_custkey FROM curr EXCEPT SELECT o_custkey FROM prev)
UNION ALL
SELECT o_custkey, 'remove' AS action FROM (SELECT o_custkey FROM prev EXCEPT SELECT o_custkey FROM curr)
"""


def q_engine_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-alias normalization + unknown-engine skip (SURVEY §2.2 P2, §2.6).

    collector/cmd/collector/database-collector.go:60-70 routes engine names
    through an alias map ('oracle'|'oracle-ee'|'custom-oracle-ee' -> oracle)
    and warn-skips unknown engines. Same shape: event_type routed through an
    alias CASE, unknowns filtered out, counted per route.
    """
    ev = _t(spark, sf_dir, "events")
    route = (
        F.when(F.col("event_type").isin("click", "view"), F.lit("web"))
        .when(F.col("event_type").isin("purchase", "signup"), F.lit("commerce"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        ev.withColumn("route", route)
        .filter(F.col("route").isNotNull())
        .groupBy("route")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_engines"),
        )
    )


SQL_ENGINE_DISPATCH = """
SELECT route, COUNT(*) AS n_events, COUNT(DISTINCT event_type) AS n_engines
FROM (
  SELECT CASE WHEN event_type IN ('click','view') THEN 'web'
              WHEN event_type IN ('purchase','signup') THEN 'commerce'
              ELSE NULL END AS route, event_type
  FROM events
) WHERE route IS NOT NULL
GROUP BY route
"""


def q_engine_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warn-skip side of engine dispatch (SURVEY §2.2 P2).

    collector/cmd/collector/database-collector.go:67-69 logs-and-skips
    targets whose engine has no route; ``sources.registry.rejects`` is the
    operator form. Same shape here: the event_types the alias CASE of
    q_engine_dispatch does NOT route, counted — exactly what the reference
    would emit as warning lines.
    """
    ev = _t(spark, sf_dir, "events")
    route = (
        F.when(F.col("event_type").isin("click", "view"), F.lit("web"))
        .when(F.col("event_type").isin("purchase", "signup"), F.lit("commerce"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        ev.withColumn("route", route)
        .filter(F.col("route").isNull())
        .groupBy("event_type")
        .agg(F.count("*").alias("n_skipped"))
    )


SQL_ENGINE_REJECTS = """
SELECT event_type, COUNT(*) AS n_skipped
FROM (
  SELECT CASE WHEN event_type IN ('click','view') THEN 'web'
              WHEN event_type IN ('purchase','signup') THEN 'commerce'
              ELSE NULL END AS route, event_type
  FROM events
) WHERE route IS NULL
GROUP BY event_type
"""


def q_kv_numeric_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K/V catalog rows -> numeric parse, non-numeric dropped (SURVEY §1.1).

    Mirrors the SHOW GLOBAL STATUS handling the reference enables at
    collector/exporters/mysql/mysql-exporter.go:13-14: dynamically-typed
    (name, value-string) pairs; numeric parse attempted, non-numeric rows
    dropped. Here the K/V surface is the events.props JSON plus a
    deliberately non-numeric pair from event_type.
    """
    ev = _t(spark, sf_dir, "events")
    kv = ev.select(
        F.col("event_id"),
        F.explode(
            F.create_map(
                F.lit("k"),
                F.get_json_object(F.col("props"), "$.k"),
                F.lit("type"),
                F.col("event_type"),
            )
        ).alias("variable_name", "variable_value"),
    )
    # try_cast, not cast: ANSI mode would raise on non-numeric strings, and
    # the reference's semantics are "attempt numeric parse, drop failures"
    parsed = kv.withColumn("num_value", F.col("variable_value").try_cast("double")).filter(
        F.col("num_value").isNotNull()
    )
    return parsed.groupBy("variable_name").agg(
        F.count("*").alias("n_samples"),
        F.sum(F.col("num_value").cast("long")).alias("sum_value"),
    )


SQL_KV_NUMERIC_PARSE = """
SELECT variable_name, COUNT(*) AS n_samples,
       CAST(SUM(CAST(TRY_CAST(variable_value AS DOUBLE) AS BIGINT)) AS BIGINT) AS sum_value
FROM (
  SELECT event_id, 'k' AS variable_name, json_extract_string(props, '$.k') AS variable_value FROM events
  UNION ALL
  SELECT event_id, 'type' AS variable_name, event_type AS variable_value FROM events
)
WHERE TRY_CAST(variable_value AS DOUBLE) IS NOT NULL
GROUP BY variable_name
"""


def q_label_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core enrichment transform, flat-column form (SURVEY §2.4).

    collector/internal/utils/prometheus.go:22-120: per sample carry the
    metric name, derive identifier = host split at first '.'
    (prometheus.go:48), stamp job/region/accountId/engine labels, and fall
    back to a fixed timestamp when the sample has none (prometheus.go:27-32;
    anchored here for determinism). Pure narrow transform — no shuffle.
    """
    ev = _t(spark, sf_dir, "events")
    host = F.concat_ws(
        ".", F.col("event_type"), (F.col("user_id") % 4).cast("string"), F.lit("example.com")
    )
    ts_maybe = F.when(F.col("event_id") % 100 == 0, F.lit(None).cast("timestamp")).otherwise(
        F.col("ts")
    )
    return ev.select(
        F.concat(F.lit("events_"), F.col("event_type")).alias("name"),
        F.split(host, "\\.").getItem(0).alias("identifier"),
        F.lit("database-collector").alias("job"),
        F.lit("us-west-2").alias("region"),
        F.lit("123456789012").alias("account_id"),
        F.lit("NA").alias("engine"),
        F.col("value"),
        F.coalesce(ts_maybe, F.lit(ANCHOR_TS).cast("timestamp")).alias("ts_out"),
        F.col("event_id"),
    )


SQL_LABEL_ENRICH = f"""
SELECT 'events_' || event_type AS name,
       split_part(event_type || '.' || CAST(user_id % 4 AS VARCHAR) || '.example.com', '.', 1) AS identifier,
       'database-collector' AS job,
       'us-west-2' AS region,
       '123456789012' AS account_id,
       'NA' AS engine,
       value,
       COALESCE(CASE WHEN event_id % 100 = 0 THEN NULL ELSE ts END,
                TIMESTAMP '{ANCHOR_TS}') AS ts_out,
       event_id
FROM events
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window row_number (SURVEY §2.7 extension surface).

    The reference has no window functions; at 100 TB top-k must be a
    partitioned window (never a driver-side collect) — rank within
    o_orderpriority by totalprice, deterministic tie-break on key.
    """
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank_in_priority", F.row_number().over(w))
        .filter(F.col("rank_in_priority") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank_in_priority")
    )


SQL_TOPK_PER_GROUP = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rank_in_priority
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_in_priority
  FROM orders
) WHERE rank_in_priority <= 3
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT surface (SURVEY §2.7: the refresh diff is EXCEPT
    both ways, database-collector.go:97-166)."""
    part = _t(spark, sf_dir, "part")
    small = part.filter(F.col("p_size") == 1).select("p_brand", "p_type").distinct()
    large = part.filter(F.col("p_size") == 41).select("p_brand", "p_type").distinct()
    only_small = small.exceptAll(large).withColumn("op", F.lit("only_small"))
    both = small.intersect(large).withColumn("op", F.lit("both"))
    return only_small.unionByName(both)


SQL_SET_OPS = """
WITH small AS (SELECT DISTINCT p_brand, p_type FROM part WHERE p_size = 1),
     large AS (SELECT DISTINCT p_brand, p_type FROM part WHERE p_size = 41)
SELECT p_brand, p_type, 'only_small' AS op FROM (SELECT * FROM small EXCEPT SELECT * FROM large)
UNION ALL
SELECT p_brand, p_type, 'both' AS op FROM (SELECT * FROM small INTERSECT SELECT * FROM large)
"""


def q_limit_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic page cap (SURVEY §2.7: MaxResults 100 on the secrets
    list, secrets-manager.go:33). ORDER BY unique key makes LIMIT stable."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.orderBy("c_custkey")
        .limit(100)
        .select("c_custkey", "c_name", "c_mktsegment")
    )


SQL_LIMIT_CAP = """
SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey LIMIT 100
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-k (extension join coverage, SURVEY §2.3 note).

    customer ⋈ orders ⋈ lineitem with revenue ranking. customer is small at
    every SF relative to lineitem — broadcast it; orders⋈lineitem shuffles
    on the join key, and AQE handles skew at scale.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    price = _cents("l_extendedprice")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    revenue_cents = (price * (100 - disc)).cast("decimal(38,0)")
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(revenue_cents).cast("double") / 10000).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS DECIMAL(38,0))) AS DOUBLE)/10000 AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# joins beyond equi-inner
# ---------------------------------------------------------------------------


def q_semi_anti_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI / LEFT ANTI join (EXISTS / NOT EXISTS): per priority, how
    many orders do / don't contain a line with quantity > 49.

    The probe side is a distinct orderkey set — Catalyst plans both as one
    shuffled join each on l_orderkey with the filter pushed into the
    lineitem scan; no row multiplication ever materializes (semi/anti
    short-circuit per probe hit), which is why EXISTS-shaped logic must
    never be written as inner-join + distinct at 100 TB.
    """
    orders = _t(spark, sf_dir, "orders")
    big = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 49)
        .select("l_orderkey")
    )
    on = orders["o_orderkey"] == big["l_orderkey"]
    with_big = (
        orders.join(big, on, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_with"))
    )
    without_big = (
        orders.join(big, on, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_without"))
    )
    return with_big.join(without_big, "o_orderpriority", "full_outer").select(
        "o_orderpriority",
        F.coalesce("n_with", F.lit(0)).alias("n_with"),
        F.coalesce("n_without", F.lit(0)).alias("n_without"),
    )


SQL_SEMI_ANTI_ORDERS = """
WITH big AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity > 49)
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN b.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with,
       CAST(SUM(CASE WHEN b.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without
FROM orders o LEFT JOIN big b ON o.o_orderkey = b.l_orderkey
GROUP BY o_orderpriority
"""


def q_correlated_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate filter (TPC-H Q17 shape): revenue of lines with
    quantity below half their part's average quantity.

    The correlated subquery decorrelates to a per-part aggregate joined
    back — one shuffle for the agg, and the join side is |parts|-sized so
    AQE broadcasts it. avg = exact cent-sum / count in double on both
    engines; threshold compare in double is then bit-identical.
    """
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(_cents("l_quantity")).cast("double") / F.count("*") / 100).alias(
            "avg_qty"
        )
    )
    return (
        li.join(per_part.withColumnRenamed("l_partkey", "pk"), li["l_partkey"] == F.col("pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (F.sum(_cents("l_extendedprice")).cast("double") / 100 / 7.0).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_lines"),
        )
    )


SQL_CORRELATED_AVG_FILTER = """
WITH per_part AS (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/COUNT(*)/100 AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100/7.0 AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem JOIN per_part ON l_partkey = pk
WHERE l_quantity < 0.5 * avg_qty
"""


# ---------------------------------------------------------------------------
# window functions: running / offset
# ---------------------------------------------------------------------------


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order history: running count, running spend, previous
    order date, day gap. Ordering is made total with the o_orderkey
    tie-break (same-day orders would otherwise make LAG nondeterministic).

    One shuffle on o_custkey; all four window functions share the single
    sort (same window spec -> one Window physical operator).
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        (F.sum(_cents("o_totalprice")).over(w).cast("double") / 100).alias(
            "run_spend"
        ),
        F.lag("o_orderdate").over(w).alias("prev_date"),
        F.coalesce(
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)),
            F.lit(0),
        ).alias("days_since_prev"),
    )


SQL_WINDOW_RUNNING = """
SELECT o_custkey, o_orderkey,
       CAST(ROW_NUMBER() OVER w AS INT) AS order_seq,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER w AS DOUBLE)/100 AS run_spend,
       LAG(o_orderdate) OVER w AS prev_date,
       CAST(COALESCE(date_diff('day', LAG(o_orderdate) OVER w, o_orderdate), 0) AS INT) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# scalar function surface: strings, dates, case
# ---------------------------------------------------------------------------


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface (SURVEY §2.8 extension): regexp extraction,
    case mapping, split-indexing, search position, length — all
    whole-stage-codegen expressions, zero shuffles."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.regexp_extract("p_name", r"(\w+)$", 1).alias("last_word"),
        F.upper("p_brand").alias("brand_up"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_first"),
        F.length("p_name").alias("name_len"),
        F.instr(F.col("p_type"), "BRUSHED").alias("brushed_pos"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
    )


SQL_STRING_FUNCS = """
SELECT p_partkey,
       regexp_extract(p_name, '(\\w+)$', 1) AS last_word,
       upper(p_brand) AS brand_up,
       string_split(p_type, ' ')[1] AS type_first,
       CAST(length(p_name) AS INT) AS name_len,
       CAST(strpos(p_type, 'BRUSHED') AS INT) AS brushed_pos,
       substring(p_name, 1, 5) AS name_prefix
FROM part
"""


def q_date_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing: orders per month with exact revenue. date_trunc
    is a narrow expression; the month key (low cardinality) is the shuffle
    key — the partition-prunable layout a 100 TB order lake would use."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(_cents("o_totalprice")).cast("double") / 100).alias("revenue"),
        )
    )


SQL_DATE_ROLLUP = """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 AS revenue
FROM orders GROUP BY date_trunc('month', o_orderdate)
"""


def q_case_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE bucketing + HAVING: customer account-balance tiers per market
    segment, keeping only (segment, tier) cells with > 50 members."""
    tier = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment", tier.alias("tier"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 50)
    )


SQL_CASE_HAVING = """
SELECT c_mktsegment,
       CASE WHEN c_acctbal < 0 THEN 'debt'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END AS tier,
       COUNT(*) AS n
FROM customer
GROUP BY 1, 2
HAVING COUNT(*) > 50
"""


# ---------------------------------------------------------------------------
# aggregation surface: argmax, percentiles, cube, conditional, list
# ---------------------------------------------------------------------------


def q_argmax_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax per group via max_by: each nation's richest customer.

    Ties are broken toward the smaller custkey by packing (balance,
    -custkey) into one bigint ordering value — max_by on exact ties is
    otherwise unspecified in both engines. Single partial-aggregatable
    pass; contrast with topk_per_group, which pays a sort for the same
    k=1 answer.
    """
    c = _t(spark, sf_dir, "customer")
    order_val = _cents("c_acctbal") * F.lit(10_000_000) - F.col("c_custkey")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_custkey", order_val).alias("richest_custkey"),
        (F.max(_cents("c_acctbal")).cast("double") / 100).alias("max_acctbal"),
    )


SQL_ARGMAX_CUSTOMER = """
SELECT c_nationkey,
       arg_max(c_custkey, CAST(ROUND(c_acctbal*100) AS BIGINT) * 10000000 - c_custkey) AS richest_custkey,
       CAST(MAX(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100 AS max_acctbal
FROM customer GROUP BY c_nationkey
"""


def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per market segment.

    Quantiles restricted to dyadic points (.25/.5/.75) over integer cents:
    Spark's (1-d)*lo + d*hi and DuckDB's lo + d*(hi-lo) are then both
    exact in double, so the engines agree bit-for-bit. (percentile_approx
    is the 100 TB default; the exact form pins the semantics.)
    """
    cents = _cents("c_acctbal")
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            (F.percentile(cents, F.lit(0.25)) / 100).alias("p25"),
            (F.percentile(cents, F.lit(0.5)) / 100).alias("p50"),
            (F.percentile(cents, F.lit(0.75)) / 100).alias("p75"),
        )
    )


SQL_EXACT_PERCENTILES = """
SELECT c_mktsegment,
       quantile_cont(CAST(ROUND(c_acctbal*100) AS BIGINT), 0.25)/100 AS p25,
       quantile_cont(CAST(ROUND(c_acctbal*100) AS BIGINT), 0.5)/100 AS p50,
       quantile_cont(CAST(ROUND(c_acctbal*100) AS BIGINT), 0.75)/100 AS p75
FROM customer GROUP BY c_mktsegment
"""


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets with grouping_id over order priority x status
    (SURVEY §2.5 A5 surface — free in Spark, absent in the reference)."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


SQL_CUBE_COUNTS = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
       CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def q_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long unpivot of lineitem measures (the inverse of
    kv_pivot_wide; the same melt the declarative metric config performs on
    scraped wide rows). stack() is a generator projection — no shuffle."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.expr(
                "stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice, "
                "'discount', l_discount, 'tax', l_tax) AS (measure, value)"
            ),
        )
    )


SQL_UNPIVOT_MELT = """
SELECT l_orderkey, l_linenumber, m.measure, m.value
FROM lineitem,
LATERAL (VALUES ('quantity', l_quantity), ('extendedprice', l_extendedprice),
                ('discount', l_discount), ('tax', l_tax)) AS m(measure, value)
WHERE l_orderkey <= 1000
"""


def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (filtered counts in one pass — the shape of
    every scraper's status-bucket counters, SURVEY §2.5 A1/A4)."""
    big = _cents("o_totalprice") > 15_000_000
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
                "n_finished"
            ),
            F.sum(F.when(big, 1).otherwise(0)).alias("n_big"),
            F.round(
                F.sum(F.when(big, 1).otherwise(0)) / F.count("*"), 4
            ).alias("big_ratio"),
        )
    )


SQL_CONDITIONAL_AGG = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       CAST(SUM(CASE WHEN CAST(ROUND(o_totalprice*100) AS BIGINT) > 15000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
       round(CAST(SUM(CASE WHEN CAST(ROUND(o_totalprice*100) AS BIGINT) > 15000000 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS big_ratio
FROM orders GROUP BY o_orderpriority
"""


def q_sorted_list_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: collect_set is unordered in any
    distributed engine, so the contract is sort_array(collect_set(...)) —
    the only portable list-agg semantics. Emitted as a ','-joined string
    (numeric sort first, then stringify) so the differential gate's
    canonicalizer sees a scalar column."""
    return (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
            F.array_join(
                F.expr("transform(sort_array(collect_set(s_suppkey)), x -> CAST(x AS STRING))"),
                ",",
            ).alias("suppkeys"),
            F.count("*").alias("n"),
        )
    )


SQL_SORTED_LIST_AGG = """
SELECT s_nationkey, array_to_string(list_sort(list(DISTINCT s_suppkey)), ',') AS suppkeys,
       COUNT(*) AS n
FROM supplier GROUP BY s_nationkey
"""


def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling scalar surface (coalesce / nullif / nvl2-shaped
    CASE / null-safe equality) with nulls INJECTED deterministically
    (comment stripped on every 4th order) so each function exercises
    both branches. Aggregated per status with null-sensitive counts —
    count(col) vs count(*) vs count of null-safe matches."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 4 != 0, F.col("o_orderpriority")).alias("c"),
        _cents("o_totalprice").alias("cents"),
    )
    derived = o.select(
        "o_orderstatus",
        "c",
        F.coalesce(F.col("c"), F.lit("<missing>")).alias("c_filled"),
        # nullif: priorities starting '1' (1-URGENT) -> null (equal case)
        F.nullif(F.substring("c", 1, 1), F.lit("1")).alias("first_ch"),
        F.when(F.col("c").isNotNull(), F.lit("has")).otherwise(F.lit("none")).alias("nvl2"),
        (F.col("c").eqNullSafe(F.lit(None).cast("string"))).alias("is_null_safe"),
        "cents",
    )
    return derived.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.count("c").alias("n_comments"),
        F.count("first_ch").alias("n_first_not_urgent"),
        F.sum(F.when(F.col("nvl2") == "has", 1).otherwise(0)).cast("long").alias("n_has"),
        F.sum(F.col("is_null_safe").cast("long")).alias("n_null_safe_null"),
        F.sum(F.when(F.col("c_filled") == "<missing>", F.col("cents"))).alias("missing_cents"),
    )


SQL_NULL_FUNCS = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 4 <> 0 THEN o_orderpriority END AS c,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
d AS (
  SELECT o_orderstatus, c,
         COALESCE(c, '<missing>') AS c_filled,
         NULLIF(substring(c, 1, 1), '1') AS first_ch,
         CASE WHEN c IS NOT NULL THEN 'has' ELSE 'none' END AS nvl2,
         (c IS NOT DISTINCT FROM NULL) AS is_null_safe,
         cents
  FROM o
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(c) AS BIGINT) AS n_comments,
       CAST(COUNT(first_ch) AS BIGINT) AS n_first_not_urgent,
       CAST(SUM(CASE WHEN nvl2 = 'has' THEN 1 ELSE 0 END) AS BIGINT) AS n_has,
       CAST(SUM(CASE WHEN is_null_safe THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_null,
       CAST(SUM(CASE WHEN c_filled = '<missing>' THEN cents END) AS BIGINT) AS missing_cents
FROM d GROUP BY 1
"""


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed scalar surface: build a status→cents map per priority
    (map_from_entries over SORTED entries, so key order is
    deterministic), then consume it with size / element_at / map_keys /
    map_values + aggregate — the label-map idiom this engine's metric
    rows use (labels are map<string,string>). The oracle reproduces the
    same scalars relationally; the gate pins that Spark's map functions
    round-trip the data unchanged."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.sum(_cents("o_totalprice")).alias("cents")
    )
    m = per.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("o_orderstatus", "cents")))
        ).alias("m")
    )
    return m.select(
        "o_orderpriority",
        F.size("m").alias("n_statuses"),
        F.element_at("m", "F").alias("f_cents"),
        F.array_join(F.map_keys("m"), ",").alias("statuses"),
        F.aggregate(
            F.map_values("m"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_cents"),
    )


SQL_MAP_FUNCS = """
WITH per AS (
  SELECT o_orderpriority, o_orderstatus,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS INT) AS n_statuses,
       CAST(MAX(CASE WHEN o_orderstatus = 'F' THEN cents END) AS BIGINT) AS f_cents,
       string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM per GROUP BY 1
"""


def q_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safety surface: under Spark 4's ANSI mode, bare division by
    zero / overflow THROW at runtime; the ``try_*`` family returns NULL
    instead — the fail-soft arithmetic a metrics pipeline needs (a
    single zero-denominator series must not kill a tick, the arithmetic
    analog of the collector's per-target fail-soft). Zero denominators
    are injected deterministically (every 7th key); the gate counts
    nulled results and sums the survivors, so a silently-wrong fallback
    (0 instead of NULL) mismatches.

    Perf note (r15 optimization round): try_* catches the ANSI
    ArithmeticException PER ROW, and exception construction is ~30 µs —
    with every real order total overflowing cents·10^15 and every 7th
    denominator zero, the throw/catch path WAS the query (measured
    3.6 s → 0.33 s at sf0.1 when guarded). The known-failing cases are
    now pre-guarded with when() so the exception path is what it should
    be at 100 TB: the rare residual, not the hot loop. try_* still
    computes every non-guarded row, and the guards are exact
    (|cents| <= maxLong div 10^15 cannot overflow; denom != 0 cannot
    divide by zero), so the results are bit-identical."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        _cents("o_totalprice").alias("cents"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(0))
        .otherwise((F.col("o_orderkey") % 5) + 1)
        .alias("denom"),
    )
    no_ovf = 9223372036854775807 // 10**15  # |cents| bound: product fits
    d = o.select(
        "o_orderstatus",
        F.when(
            F.col("denom") != 0, F.try_divide(F.col("cents"), F.col("denom"))
        ).alias("per_unit"),
        F.when(
            (F.col("cents") <= no_ovf) & (F.col("cents") >= -no_ovf),
            F.try_multiply(F.col("cents"), F.lit(10**15)),
        ).alias("overflowed"),
    )
    return d.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.count("per_unit").alias("n_divisible"),
        F.sum(F.round(F.col("per_unit")).cast("long")).alias("per_unit_sum"),
        F.count("overflowed").alias("n_not_overflowed"),
    )


SQL_TRY_ARITH = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderkey % 7 = 0 THEN 0
              ELSE (o_orderkey % 5) + 1 END AS denom
  FROM orders
),
d AS (
  SELECT o_orderstatus,
         CASE WHEN denom = 0 THEN NULL
              ELSE CAST(cents AS DOUBLE) / denom END AS per_unit,
         -- bigint overflow twin: cents * 10^15 overflows int64 whenever
         -- cents > ~9223 (always, for real order totals) -> NULL
         CASE WHEN cents > 9223 THEN NULL
              ELSE cents * 1000000000000000 END AS overflowed
  FROM o
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(per_unit) AS BIGINT) AS n_divisible,
       CAST(SUM(CAST(ROUND(per_unit) AS BIGINT)) AS BIGINT) AS per_unit_sum,
       CAST(COUNT(overflowed) AS BIGINT) AS n_not_overflowed
FROM d GROUP BY 1
"""


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join semantics (`<=>` / IS NOT DISTINCT FROM): rows
    with a NULL join key still match their NULL-keyed group — the
    semantics every dimension join with optional keys needs, and a
    plain `=` silently drops. Key = NULLIF(o_orderstatus, 'O') so a
    third of orders carry a NULL key; the right side is the per-key
    aggregate of the same table, so every order must find exactly one
    group row (asserted by the count row volume).

    Plan note: Spark plans `<=>` as a hash join on a null-safe key wrap
    — still an equi-join, never a nested loop."""
    o = _t(spark, sf_dir, "orders")
    skey = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    left = o.select(skey.alias("skey"), F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    grp = left.groupBy(F.col("skey").alias("gkey")).agg(
        F.count("*").alias("grp_n"),
        F.sum("cents").alias("grp_cents"),
    )
    joined = left.join(grp, left["skey"].eqNullSafe(grp["gkey"]))
    return joined.groupBy("skey").agg(
        F.count("*").alias("n_rows"),
        F.max("grp_n").alias("grp_n"),
        F.max("grp_cents").alias("grp_cents"),
    )


SQL_NULL_SAFE_JOIN = """
WITH l AS (
  SELECT NULLIF(o_orderstatus, 'O') AS skey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
g AS (
  SELECT skey AS gkey, COUNT(*) AS grp_n, SUM(cents) AS grp_cents
  FROM l GROUP BY skey
)
SELECT skey, COUNT(*) AS n_rows,
       CAST(MAX(grp_n) AS BIGINT) AS grp_n,
       CAST(MAX(grp_cents) AS BIGINT) AS grp_cents
FROM l JOIN g ON l.skey IS NOT DISTINCT FROM g.gkey
GROUP BY skey
"""


def q_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL — BAG semantics set operations
    (multiplicity-aware: a row appearing 5 times on the left and twice
    on the right survives EXCEPT ALL 3 times), completing the set-ops
    surface next to the distinct-set `set_ops` gate. Results aggregate
    to (op, flag, n) so the gate hashes multiset cardinalities."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") <= 30).select("l_returnflag")
    b = li.where(F.col("l_linestatus") == "F").select("l_returnflag")
    ex = (
        a.exceptAll(b)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "l_returnflag", "n")
    )
    it = (
        a.intersectAll(b)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "l_returnflag", "n")
    )
    return ex.unionByName(it)


SQL_BAG_SET_OPS = """
WITH a AS (SELECT l_returnflag FROM lineitem WHERE l_quantity <= 30),
b AS (SELECT l_returnflag FROM lineitem WHERE l_linestatus = 'F'),
ex AS (SELECT l_returnflag FROM a EXCEPT ALL SELECT l_returnflag FROM b),
it AS (SELECT l_returnflag FROM a INTERSECT ALL SELECT l_returnflag FROM b)
SELECT 'except_all' AS op, l_returnflag, COUNT(*) AS n FROM ex GROUP BY 2
UNION ALL
SELECT 'intersect_all' AS op, l_returnflag, COUNT(*) AS n FROM it GROUP BY 2
"""


# ---------------------------------------------------------------------------
# window frames / ranking
# ---------------------------------------------------------------------------


def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed window functions over per-customer order history: 3-row
    moving average (ROWS BETWEEN 2 PRECEDING), running first_value,
    percent_rank, ntile(4) — one total order (date, key) shared by every
    window, so Catalyst plans a single sort per partition key and all
    four functions ride the same Window physical node (check: one
    Exchange + one Sort in the plan, not four).

    The moving average is SUM(cents)/COUNT over the frame — never
    AVG(double) over a frame, whose accumulation order is engine-defined.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame3 = w.rowsBetween(-2, 0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 2000)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(
                F.sum(_cents("o_totalprice")).over(frame3).cast("double")
                / F.count("*").over(frame3)
                / 100.0,
                4,
            ).alias("mav3"),
            F.first("o_orderkey").over(run).alias("first_key"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.ntile(4).over(w).alias("quartile"),
        )
    )


SQL_WINDOW_FRAMES = """
SELECT o_custkey, o_orderkey,
       round(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER f3 AS DOUBLE)
             / COUNT(*) OVER f3 / 100.0, 4) AS mav3,
       FIRST_VALUE(o_orderkey) OVER frun AS first_key,
       round(PERCENT_RANK() OVER w, 6) AS pr,
       NTILE(4) OVER w AS quartile
FROM orders
WHERE o_custkey < 2000
WINDOW w    AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       f3   AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       frun AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# calendar scalar functions
# ---------------------------------------------------------------------------


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar function surface: extract parts, ISO week, day-of-week
    (normalized to Sunday=0 — Spark's dayofweek is 1-based, DuckDB's DOW
    0-based), last_day, date shifting, signed day differences. Dates are
    emitted as ISO strings so the gate compares text, not engine-local
    date objects."""
    d = F.to_date("o_orderdate")
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            F.year(d).cast("int").alias("yr"),
            F.quarter(d).cast("int").alias("qtr"),
            F.month(d).cast("int").alias("mon"),
            F.dayofmonth(d).cast("int").alias("dom"),
            (F.dayofweek(d) - 1).cast("int").alias("dow"),
            F.dayofyear(d).cast("int").alias("doy"),
            F.weekofyear(d).cast("int").alias("iso_week"),
            F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
            F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus30"),
            F.datediff(d, F.lit("1995-01-01").cast("date")).cast("int").alias(
                "days_since_epoch95"
            ),
        )
    )


SQL_DATE_FUNCS = """
SELECT o_orderkey,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
       CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS qtr,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mon,
       CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS dom,
       CAST(EXTRACT(DOW FROM o_orderdate) AS INT) AS dow,
       CAST(EXTRACT(DOY FROM o_orderdate) AS INT) AS doy,
       CAST(EXTRACT(WEEK FROM o_orderdate) AS INT) AS iso_week,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
           AS days_since_epoch95
FROM orders
WHERE o_orderkey < 2000
"""


# ---------------------------------------------------------------------------
# exact moment statistics (stddev / variance / correlation)
# ---------------------------------------------------------------------------


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag sample variance/stddev of quantity and quantity-price
    correlation, all derived from exact integer moment sums — never the
    engines' float stddev/corr aggregates, whose accumulation order (and
    Spark's distributed partial-merge) makes last-ulp results
    nondeterministic. Price terms sum in DECIMAL(38,0): sum of
    cents-squared reaches ~6e19 at sf0.1, past int64. The shuffle carries
    5 numbers per group regardless of row count (pure partial-agg
    pattern: this is the shape that scales to 100 TB)."""
    q = F.round("l_quantity").cast("long")
    p = _cents("l_extendedprice")
    dec = "decimal(38,0)"
    agg = (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", q.alias("q"), p.alias("p"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("q").alias("sq"),
            F.sum(F.col("q") * F.col("q")).alias("sqq"),
            F.sum(F.col("p").cast(dec)).alias("sp"),
            F.sum((F.col("p").cast(dec) * F.col("p").cast(dec))).alias("spp"),
            F.sum(F.col("q") * F.col("p")).alias("sqp"),
        )
    )
    n = F.col("n")
    num_q = (n * F.col("sqq") - F.col("sq") * F.col("sq")).cast("double")
    var_q = num_q / (n * (n - 1)).cast("double")
    dec_n = n.cast("decimal(38,0)")
    num_c = (dec_n * F.col("sqp").cast("decimal(38,0)") - F.col("sq").cast("decimal(38,0)") * F.col("sp")).cast(
        "double"
    )
    den_p = (dec_n * F.col("spp") - F.col("sp") * F.col("sp")).cast("double")
    return agg.select(
        "l_returnflag",
        n.alias("n"),
        F.round(F.col("sq").cast("double") / n, 4).alias("mean_q"),
        F.round(var_q, 4).alias("var_q"),
        F.round(F.sqrt(var_q), 4).alias("std_q"),
        F.round(num_c / (F.sqrt(num_q) * F.sqrt(den_p)), 6).alias("corr_qp"),
    )


SQL_STATS_MOMENTS = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sq,
         SUM(CAST(ROUND(l_quantity) AS BIGINT) * CAST(ROUND(l_quantity) AS BIGINT)) AS sqq,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sp,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS spp,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)
             * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sqp
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round(CAST(sq AS DOUBLE) / n, 4) AS mean_q,
       round(CAST(n * sqq - sq * sq AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 4) AS var_q,
       round(sqrt(CAST(n * sqq - sq * sq AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)), 4) AS std_q,
       round(CAST(n * sqp - sq * sp AS DOUBLE)
             / (sqrt(CAST(n * sqq - sq * sq AS DOUBLE)) * sqrt(CAST(n * spp - sp * sp AS DOUBLE))),
             6) AS corr_qp
FROM m
"""


# ---------------------------------------------------------------------------
# explicit GROUPING SETS (SQL API surface)
# ---------------------------------------------------------------------------


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((f,s),(f),()) with grouping() markers via
    the spark.sql entry point (the engine's second API surface next to
    the DataFrame builders). One shuffle produces all three granularities
    (Expand + single aggregate in the plan) — three separate GROUP BYs
    would triple-scan the fact table."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


# ---------------------------------------------------------------------------
# array scalar-function surface
# ---------------------------------------------------------------------------


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar surface over tokenized documents: size, slice+join,
    membership, lexicographic min of the distinct set, positional
    element. All single-projection (no explode) — the array stays inside
    one codegen stage."""
    t = F.split(F.col("text"), " ")
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.size(t).alias("n_tokens"),
            F.array_join(F.slice(t, 1, 5), " ").alias("first5"),
            F.array_contains(t, "the").alias("has_the"),
            F.sort_array(F.array_distinct(t))[0].alias("alpha_first"),
            F.element_at(t, F.size(t)).alias("last_token"),
        )
    )


SQL_ARRAY_FUNCS = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 300)
SELECT doc_id,
       CAST(len(t) AS INT) AS n_tokens,
       array_to_string(list_slice(t, 1, 5), ' ') AS first5,
       list_contains(t, 'the') AS has_the,
       list_sort(list_distinct(t))[1] AS alpha_first,
       t[len(t)] AS last_token
FROM d
"""


# ---------------------------------------------------------------------------
# skew-salted join template
# ---------------------------------------------------------------------------


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salting template for skewed join keys, verified against the
    plain-join oracle (the result MUST be identical — salting is a
    physical rewrite, not a semantic one).

    The fact side gets a deterministic salt in [0,8); the other side is
    replicated once per salt value; the join key becomes (key, salt), so
    one hot key's rows spread over 8 reducers instead of one. This is
    the manual form of what AQE skew-join does adaptively — kept as an
    explicit operator because AQE only splits post-shuffle partitions of
    sort-merge joins, while salting also covers aggregate-into-join and
    bucketed pipelines."""
    n_salt = 8
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.hash("l_partkey"), F.lit(n_salt))
    )
    orders_rep = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
        )
    )
    return (
        li.join(
            orders_rep,
            (li["l_orderkey"] == orders_rep["o_orderkey"])
            & (li["salt"] == orders_rep["salt"]),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(_cents("l_extendedprice")).cast("double") / 100.0, 2
            ).alias("revenue"),
        )
    )


SQL_SKEW_SALTED_JOIN = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       round(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)
           AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median (lower) of extended price per return flag,
    weighted by quantity — the inventory-weighted central price a plain
    median misstates. Definition: smallest value v with
    2·cumweight(v) >= totalweight, all integer (cents × integer
    quantity), so the pick is exact on any engine.

    Plan note: weights aggregate per (flag, DISTINCT cents) FIRST, so
    the cumulative window runs over the value domain (bounded by
    distinct prices), not the row stream — the same domain-compression
    trick that keeps exact order statistics viable when groups are
    data-sized. One value-keyed aggregate + one per-flag window + one
    final aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    per_value = (
        li.select(
            "l_returnflag",
            _cents("l_extendedprice").alias("cents"),
            F.round("l_quantity").cast("long").alias("w"),
        )
        .groupBy("l_returnflag", "cents")
        .agg(F.sum("w").alias("w"))
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    crossed = per_value.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    ).where(F.lit(2) * F.col("cw") >= F.col("tw"))
    return crossed.groupBy("l_returnflag").agg(
        F.min("cents").alias("wmedian_cents"),
        F.max("tw").alias("total_weight"),
    )


SQL_WEIGHTED_MEDIAN = """
WITH pv AS (
  SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS w
  FROM lineitem GROUP BY 1, 2
),
c AS (
  SELECT l_returnflag, cents,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM pv
)
SELECT l_returnflag,
       CAST(MIN(cents) AS BIGINT) AS wmedian_cents,
       CAST(MAX(tw) AS BIGINT) AS total_weight
FROM c WHERE 2 * cw >= tw GROUP BY l_returnflag
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region revenue share per order year (TPC-H Q8 shape).

    Join tree: lineitem ⋈ orders (the one big-big shuffle, on orderkey)
    ⋈ customer ⋈ nation ⋈ region — everything after the fact join is a
    broadcast (dims are orders-of-magnitude smaller; Catalyst chooses
    broadcast under the threshold, and at 100 TB they still are). The
    share-of-year denominator is a window over the tiny post-agg frame,
    never a second scan."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", _cents("l_extendedprice").alias("cents"))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("yr")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("yr", "r_name")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("yr")
    return per.select(
        "yr",
        "r_name",
        F.round(F.col("cents").cast("double") / 100.0, 2).alias("revenue"),
        F.round(
            F.col("cents").cast("double") / F.sum("cents").over(w).cast("double"),
            6,
        ).alias("share"),
    )


SQL_MARKET_SHARE = """
WITH per AS (
  SELECT EXTRACT(YEAR FROM o_orderdate) AS yr, r_name,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT CAST(yr AS INT) AS yr, r_name,
       round(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
       round(CAST(cents AS DOUBLE) / CAST(SUM(cents) OVER (PARTITION BY yr) AS DOUBLE), 6) AS share
FROM per
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers achieving the maximum revenue (TPC-H Q15 shape:
    aggregate, then filter against the aggregate-of-the-aggregate).

    The max is a scalar from the tiny per-supplier frame — computed as a
    1-row broadcast-joined aggregate, NOT a driver-side collect (the
    pattern survives any cardinality)."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.sum(_cents("l_extendedprice")).alias("cents"))
    )
    mx = rev.agg(F.max("cents").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev["cents"] == mx["mx"])
        .join(
            _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"),
            rev["l_suppkey"] == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("cents").cast("double") / 100.0, 2).alias("total_revenue"),
        )
    )


SQL_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(CAST(cents AS DOUBLE) / 100.0, 2) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE cents = (SELECT MAX(cents) FROM rev)
"""


def q_cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of customers by order count, INCLUDING zero-order
    customers (TPC-H Q13 shape): left join + count of the nullable side,
    then re-aggregate the per-customer counts. Two shuffles on shrinking
    data (customer-sized, then count-of-counts-sized)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_CUST_ORDER_DISTRIBUTION = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) t
GROUP BY c_count
"""


def q_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing feeding a re-aggregation: orders NTILE(10)'d by
    total price (ordered totally with the key tie-break), then per-decile
    count and exact bounds.

    A bare ``ntile(10).over(Window.orderBy(...))`` funnels the whole table
    through ONE task (Spark's "No Partition Defined" warning) — a genuine
    scale-killer at 100 TB. This computes the *identical* result with the
    canonical distributed-ranking pattern instead:

    1. ``repartitionByRange`` on the full sort key — partitions are
       globally ordered ranges, each ~n/P rows (RangePartitioner samples
       boundaries; AQE-independent).
    2. per-partition row counts -> cumulative offsets. The collect is
       bounded by the partition count (hundreds of rows on a real
       cluster), never by data size.
    3. global rank = within-partition ``row_number`` + offset. The window
       partitions on ``pid``, so every partition ranks in parallel.
    4. NTILE(k) from the rank in closed form: with n rows, q = n div k,
       rem = n mod k, the first rem buckets hold q+1 rows —
       rank <= rem*(q+1)  ->  bucket = (rank-1) div (q+1) + 1,
       else bucket = rem + (rank-1-rem*(q+1)) div q + 1.

    Total cost: one range shuffle + one tiny count + one pid-partitioned
    window — vs the single-task global sort. The DuckDB oracle keeps the
    plain NTILE form; bit-identical output is the proof of equivalence."""
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    n_parts = spark.sparkContext.defaultParallelism
    # localCheckpoint pins the sampled range boundaries (and therefore
    # pid assignment) so the counts pass and the rank pass see one layout
    ranged = (
        df.repartitionByRange(n_parts, "cents", "o_orderkey")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r["pid"], r["n"])
        for r in ranged.groupBy("pid").agg(F.count("*").alias("n")).collect()
    )
    n = sum(c for _, c in counts)
    offsets, acc = {}, 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    q, rem = divmod(n, 10)
    boundary = rem * (q + 1)
    off_expr = F.coalesce(
        *[F.when(F.col("pid") == p, F.lit(o)) for p, o in offsets.items()],
        F.lit(0),
    )
    w = Window.partitionBy("pid").orderBy("cents", "o_orderkey")
    ranked = ranged.withColumn("rk", F.row_number().over(w) + off_expr)
    # integer `div` keeps the bucket math exact at any cardinality;
    # max(q,1) guards the (unreachable when q=0) else branch against
    # div-by-zero under ANSI mode
    decile = F.when(
        F.col("rk") <= boundary,
        F.expr(f"(rk - 1) div {q + 1}"),
    ).otherwise(F.lit(rem) + F.expr(f"(rk - 1 - {boundary}) div {max(q, 1)}"))
    return (
        ranked.withColumn("decile", (decile + 1).cast("int"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("cents").cast("double") / 100.0, 2).alias("lo"),
            F.round(F.max("cents").cast("double") / 100.0, 2).alias("hi"),
        )
    )


SQL_DECILE_STATS = """
WITH d AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         NTILE(10) OVER (ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderkey) AS decile
  FROM orders
)
SELECT CAST(decile AS INT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(CAST(MIN(cents) AS DOUBLE) / 100.0, 2) AS lo,
       round(CAST(MAX(cents) AS DOUBLE) / 100.0, 2) AS hi
FROM d
GROUP BY decile
"""


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts along the FK edges
    (lineitem→orders, orders→customer) as LEFT ANTI joins — the
    data-quality gate every warehouse load runs. Clean fixture data has
    zero orphans, which would make the gate trivially hashable — so the
    parent side deterministically DROPS every 13th key first, making the
    expected orphan counts nonzero and exactly computable. Anti joins
    shuffle only the key columns; counts are the only output."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders_kept = orders.filter(F.col("o_orderkey") % 13 != 0)
    cust_kept = cust.filter(F.col("c_custkey") % 13 != 0)
    e1 = (
        li.join(
            orders_kept.select("o_orderkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("n_orphans"))
        .select(F.lit("lineitem->orders").alias("edge"), "n_orphans")
    )
    e2 = (
        orders.select("o_custkey")
        .join(cust_kept, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count("*").alias("n_orphans"))
        .select(F.lit("orders->customer").alias("edge"), "n_orphans")
    )
    return e1.unionByName(e2)


SQL_FK_INTEGRITY = """
SELECT 'lineitem->orders' AS edge,
       CAST(COUNT(*) AS BIGINT) AS n_orphans
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderkey % 13 <> 0)
UNION ALL
SELECT 'orders->customer',
       CAST(COUNT(*) AS BIGINT)
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 13 <> 0)
"""


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the ANALYZE TABLE surface): per column of
    orders — null count, exact distinct count, min/max (stringified) —
    computed in ONE scan (all aggregates in a single groupBy-less agg;
    distincts expand to one Expand, not one scan per column), then
    unpivoted to (column, stat, value) long form. Nulls are injected on
    every 4th priority so null accounting is exercised."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 4 != 0, F.col("o_orderpriority")).alias(
            "o_orderpriority"
        ),
    )
    prof = o.agg(
        F.count("*").alias("rows"),
        F.count("o_orderkey").alias("k_nn"),
        F.countDistinct("o_orderkey").alias("k_nd"),
        F.min("o_orderkey").cast("string").alias("k_min"),
        F.max("o_orderkey").cast("string").alias("k_max"),
        F.count("o_orderstatus").alias("s_nn"),
        F.countDistinct("o_orderstatus").alias("s_nd"),
        F.min("o_orderstatus").alias("s_min"),
        F.max("o_orderstatus").alias("s_max"),
        F.count("o_orderpriority").alias("p_nn"),
        F.countDistinct("o_orderpriority").alias("p_nd"),
        F.min("o_orderpriority").alias("p_min"),
        F.max("o_orderpriority").alias("p_max"),
    )
    cols = {"o_orderkey": "k", "o_orderstatus": "s", "o_orderpriority": "p"}
    rows = [
        F.struct(
            F.lit(name).alias("column"),
            (F.col("rows") - F.col(f"{p}_nn")).cast("long").alias("n_nulls"),
            F.col(f"{p}_nd").cast("long").alias("n_distinct"),
            F.col(f"{p}_min").alias("min_str"),
            F.col(f"{p}_max").alias("max_str"),
        )
        for name, p in cols.items()
    ]
    return prof.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


SQL_PROFILE_TABLE = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 4 <> 0 THEN o_orderpriority END AS o_orderpriority
  FROM orders
)
SELECT 'o_orderkey' AS column,
       CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_str
FROM o
UNION ALL
SELECT 'o_orderstatus', CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM o
UNION ALL
SELECT 'o_orderpriority', CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM o
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-like blame analysis: suppliers who were the SOLE late shipper
    (> 90 days after order date) on multi-supplier orders. The classic
    form is a double EXISTS/NOT-EXISTS self-join on lineitem; this
    engine's plan replaces both with ONE per-order aggregate —
    n_suppliers, n_late_suppliers, and the single late supplier ride
    the same (orderkey)-keyed exchange, then a supplier-keyed count.
    Two shuffles total, no self-join, no correlated subquery."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == orders.o_orderkey,
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add("o_orderdate", 90)).alias("late"),
    )
    per_order = joined.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    blamed = per_order.where(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    )
    return blamed.groupBy(F.col("late_supp").alias("s_suppkey")).agg(
        F.count("*").alias("numwait")
    )


SQL_WAITING_SUPPLIERS = """
WITH joined AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp,
         MAX(CASE WHEN late THEN l_suppkey END) AS late_supp
  FROM joined GROUP BY 1
)
SELECT late_supp AS s_suppkey, COUNT(*) AS numwait
FROM per_order
WHERE n_supp >= 2 AND n_late_supp = 1
GROUP BY 1
"""


_BENFORD_PPB = {
    # round(log10(1 + 1/d) * 1e9) — fixed public constants, so neither
    # engine computes a float log
    1: 301029996, 2: 176091259, 3: 124938737, 4: 96910013,
    5: 79181246, 6: 66946790, 7: 57991947, 8: 51152522, 9: 45757491,
}


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-numbers screen. Leading digit is extracted from the
    integer cents' STRING form (no float log10, whose correct rounding
    at exact powers of ten is not guaranteed cross-engine); expected
    shares are the nine published Benford constants in ppb; the
    deviation is the exact cross-multiplied |observed−expected| ppb —
    the dist_drift arithmetic applied against a closed-form law."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    per = (
        o.select(digit.alias("digit"))
        .where(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    expected = F.lit(None).cast("long")
    for d, ppb in _BENFORD_PPB.items():
        expected = F.when(F.col("digit") == d, F.lit(ppb)).otherwise(expected)
    with_tot = per.select(
        "digit", "n", F.sum("n").over(w_all).alias("tot"), expected.alias("exp_ppb")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = F.abs(
        dec(F.col("n")) * F.lit(1_000_000_000).cast("decimal(38,0)")
        - dec(F.col("exp_ppb")) * dec(F.col("tot"))
    )
    den = dec(F.col("tot"))
    dev = ((num - num % den) / den).cast("long")
    return with_tot.select(
        "digit", "n", "exp_ppb", dev.alias("abs_dev_ppb")
    )


SQL_BENFORD_AUDIT = """
WITH per AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit,
         COUNT(*) AS n
  FROM orders GROUP BY 1
),
f AS (SELECT digit, n FROM per WHERE digit >= 1),
e(digit, exp_ppb) AS (VALUES
  (1, 301029996), (2, 176091259), (3, 124938737), (4, 96910013),
  (5, 79181246), (6, 66946790), (7, 57991947), (8, 51152522), (9, 45757491)
),
t AS (SELECT f.digit, CAST(f.n AS BIGINT) AS n, CAST(e.exp_ppb AS BIGINT) AS exp_ppb,
             SUM(f.n) OVER () AS tot
      FROM f JOIN e USING (digit))
SELECT digit, n, exp_ppb,
       CAST(ABS(CAST(n AS HUGEINT) * 1000000000 - CAST(exp_ppb AS HUGEINT) * tot)
            // CAST(tot AS HUGEINT) AS BIGINT) AS abs_dev_ppb
FROM t
"""


def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month Pareto frontier of orders: cheapest-and-latest trade-off
    (minimize price cents, maximize order day). The engine runs the
    linear single-window sweep (`operators/skyline.py::skyline_2d`);
    the oracle is the O(n²) NOT EXISTS dominance self-join — a genuinely
    different algorithm, so agreement pins the sweep's correctness."""
    from database_collector_spark.operators.skyline import skyline_2d

    o = _t(spark, sf_dir, "orders")
    pts = o.select(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
        F.floor(F.col("o_orderdate").cast("timestamp_ltz").cast("long") / 86400)
        .cast("long")
        .alias("y"),
    )
    return skyline_2d(pts, by=("month",)).select(
        "month",
        F.col("x").alias("price_cents"),
        F.col("y").alias("day_idx"),
        F.col("n_rows").alias("n_orders"),
    )


SQL_SKYLINE_ORDERS = """
WITH pts AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS y,
         COUNT(*) AS n
  FROM orders GROUP BY 1, 2, 3
)
SELECT p.m AS month, p.x AS price_cents, p.y AS day_idx, p.n AS n_orders
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.m = p.m AND q.x <= p.x AND q.y >= p.y
    AND (q.x < p.x OR q.y > p.y)
)
"""


def q_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-shaped supplier diversity: per (p_type, p_brand), the count
    of DISTINCT suppliers shipping those parts — EXCLUDING suppliers
    whose return rate exceeds 1/3 (the NOT IN <aggregated subquery>
    shape, with the rate test as the integer cross-multiplication
    3·returns > total, no float ratio).

    Plan: the exclusion list is a supplier-keyed aggregate → LEFT ANTI
    join (never a NOT IN nested loop, and null-safe by construction
    since anti-join semantics don't invert on NULLs the way NOT IN
    does); the distinct count groups by (type, brand, supp) first so
    the wide shuffle carries distinct triples, not raw lineitems."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    bad = (
        li.groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("l_returnflag") == "R").cast("long")).alias("r"),
        )
        .where(F.lit(3) * F.col("r") > F.col("n"))
        .select("l_suppkey")
    )
    good_lines = li.join(bad, "l_suppkey", "left_anti")
    triples = (
        good_lines.join(
            F.broadcast(p.select("p_partkey", "p_type", "p_brand")),
            good_lines["l_partkey"] == p["p_partkey"],
        )
        .select("p_type", "p_brand", "l_suppkey")
        .distinct()
    )
    return triples.groupBy("p_type", "p_brand").agg(
        F.count("*").alias("n_suppliers")
    )


SQL_SUPPLIER_DIVERSITY = """
SELECT p.p_type, p.p_brand,
       COUNT(DISTINCT l.l_suppkey) AS n_suppliers
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_suppkey NOT IN (
  SELECT l_suppkey FROM lineitem GROUP BY l_suppkey
  HAVING 3 * SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) > COUNT(*)
)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Helpers and SQL fragments that several gate modules share
# ---------------------------------------------------------------------------

# DuckDB rendering of the repo's md5 hash idiom: the 8 hex digits of
# md5(expr) starting at 1-based ``start`` as a BIGINT (strpos-sum form,
# mirrors SQL_WEIGHTED_SAMPLE; start=9 renders the second 32-bit word,
# Spark's conv(substring(md5(x), 9, 8), 16, 10)). The ONE definition of
# the cross-engine hash idiom, shared by every domain's oracles.
def hv_sql(expr: str, start: int = 1) -> str:
    return (
        f"(SELECT SUM(CAST(strpos('0123456789abcdef', substr(md5({expr}), i + {start - 1}, 1)) - 1"
        " AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (8 - i))))"
        " FROM (SELECT unnest(generate_series(1, 8)) AS i))"
    )


SQL_QUALITY_CLASSIFIER = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
),
feats AS (
  SELECT doc_id, unnest(ts) AS f FROM toks
  UNION ALL
  SELECT doc_id, ts[i] || '_' || ts[i + 1] AS f
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) ii
),
hv AS (SELECT doc_id, {hv_sql("f || ':' || 'clf'")} AS h FROM feats),
wt AS (
  SELECT doc_id,
         {hv_sql("'w:' || CAST(h % 4096 AS VARCHAR) || ':' || 'clf'")} % 2001 - 1000 AS w
  FROM hv
),
agg AS (
  SELECT t.doc_id,
         CAST(COALESCE(a.n, 0) AS BIGINT) AS n_feats,
         CAST(COALESCE(a.s, 0) AS BIGINT) AS logit_milli
  FROM toks t
  LEFT JOIN (SELECT doc_id, COUNT(*) AS n, SUM(w) AS s FROM wt GROUP BY doc_id) a
    USING (doc_id)
)
SELECT doc_id, n_feats, logit_milli,
       CASE WHEN n_feats > 0 THEN
         round(1.0 / (1.0 + exp(-(logit_milli / (1000.0 * n_feats)))), 6) END AS p_keep,
       CASE WHEN n_feats > 0 AND logit_milli > 0 THEN 'keep' ELSE 'drop' END AS label
FROM agg
"""


def pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


def artifact_dir(name: str, sf_dir: str) -> str:
    """Deterministic scratch directory for a persistence gate's parquet
    artifacts, keyed by (gate, SF) and REUSED across invocations — every
    write below is mode("overwrite"), so repeated differential/bench
    runs keep exactly one artifact per gate per SF instead of leaking a
    fresh mkdtemp per call."""
    root = os.path.join(tempfile.gettempdir(), "spark_graft_r10_artifacts")
    tag = f"{name}_{os.path.basename(os.path.normpath(sf_dir))}"
    # pid suffix: a fixed shared path would let two concurrent runs
    # (pytest alongside tools/check.py, or another user) race one
    # overwrite against the other's read; per-process dirs keep the
    # reuse-within-a-run property without the race. To stop per-process
    # dirs accumulating across invocations (every pytest/bench/check run
    # would otherwise leave one forever), prune sibling dirs for this
    # (gate, SF) whose owning pid is dead, and remove our own at exit.
    mine = os.path.join(root, f"{tag}_{os.getpid()}")
    try:
        for d in os.listdir(root):
            if d.startswith(tag + "_") and d != os.path.basename(mine):
                pid = d.rsplit("_", 1)[-1]
                if pid.isdigit() and not pid_alive(int(pid)):
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    except FileNotFoundError:
        pass
    if mine not in _ARTIFACT_DIRS:
        _ARTIFACT_DIRS.add(mine)
        atexit.register(shutil.rmtree, mine, ignore_errors=True)
    return mine


_ARTIFACT_DIRS: set[str] = set()


QUERIES: dict[str, QueryFn] = {
    "pricing_summary": q_pricing_summary,
    "long_running_sessions": q_long_running_sessions,
    "grouped_counter": q_grouped_counter,
    "registry_diff": q_registry_diff,
    "engine_dispatch": q_engine_dispatch,
    "engine_rejects": q_engine_rejects,
    "kv_numeric_parse": q_kv_numeric_parse,
    "label_enrich": q_label_enrich,
    "topk_per_group": q_topk_per_group,
    "set_ops": q_set_ops,
    "limit_cap": q_limit_cap,
    "shipping_priority": q_shipping_priority,
    "null_safe_join": q_null_safe_join,
    "bag_set_ops": q_bag_set_ops,
    "semi_anti_orders": q_semi_anti_orders,
    "correlated_avg_filter": q_correlated_avg_filter,
    "window_running": q_window_running,
    "string_funcs": q_string_funcs,
    "date_rollup": q_date_rollup,
    "case_having": q_case_having,
    "argmax_customer": q_argmax_customer,
    "exact_percentiles": q_exact_percentiles,
    "cube_counts": q_cube_counts,
    "unpivot_melt": q_unpivot_melt,
    "conditional_agg": q_conditional_agg,
    "sorted_list_agg": q_sorted_list_agg,
    "null_funcs": q_null_funcs,
    "map_funcs": q_map_funcs,
    "try_arith": q_try_arith,
    "weighted_median": q_weighted_median,
    "window_frames": q_window_frames,
    "date_funcs": q_date_funcs,
    "stats_moments": q_stats_moments,
    "grouping_sets": q_grouping_sets,
    "array_funcs": q_array_funcs,
    "skew_salted_join": q_skew_salted_join,
    "market_share": q_market_share,
    "supplier_diversity": q_supplier_diversity,
    "benford_audit": q_benford_audit,
    "skyline_orders": q_skyline_orders,
    "top_supplier": q_top_supplier,
    "cust_order_distribution": q_cust_order_distribution,
    "waiting_suppliers": q_waiting_suppliers,
    "decile_stats": q_decile_stats,
    "fk_integrity": q_fk_integrity,
    "profile_table": q_profile_table,
}

ORACLES: dict[str, str] = {
    "pricing_summary": SQL_PRICING_SUMMARY,
    "long_running_sessions": SQL_LONG_RUNNING_SESSIONS,
    "grouped_counter": SQL_GROUPED_COUNTER,
    "registry_diff": SQL_REGISTRY_DIFF,
    "engine_dispatch": SQL_ENGINE_DISPATCH,
    "engine_rejects": SQL_ENGINE_REJECTS,
    "kv_numeric_parse": SQL_KV_NUMERIC_PARSE,
    "label_enrich": SQL_LABEL_ENRICH,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "set_ops": SQL_SET_OPS,
    "limit_cap": SQL_LIMIT_CAP,
    "shipping_priority": SQL_SHIPPING_PRIORITY,
    "null_safe_join": SQL_NULL_SAFE_JOIN,
    "bag_set_ops": SQL_BAG_SET_OPS,
    "semi_anti_orders": SQL_SEMI_ANTI_ORDERS,
    "correlated_avg_filter": SQL_CORRELATED_AVG_FILTER,
    "window_running": SQL_WINDOW_RUNNING,
    "string_funcs": SQL_STRING_FUNCS,
    "date_rollup": SQL_DATE_ROLLUP,
    "case_having": SQL_CASE_HAVING,
    "argmax_customer": SQL_ARGMAX_CUSTOMER,
    "exact_percentiles": SQL_EXACT_PERCENTILES,
    "cube_counts": SQL_CUBE_COUNTS,
    "unpivot_melt": SQL_UNPIVOT_MELT,
    "conditional_agg": SQL_CONDITIONAL_AGG,
    "sorted_list_agg": SQL_SORTED_LIST_AGG,
    "null_funcs": SQL_NULL_FUNCS,
    "map_funcs": SQL_MAP_FUNCS,
    "try_arith": SQL_TRY_ARITH,
    "weighted_median": SQL_WEIGHTED_MEDIAN,
    "window_frames": SQL_WINDOW_FRAMES,
    "date_funcs": SQL_DATE_FUNCS,
    "stats_moments": SQL_STATS_MOMENTS,
    "grouping_sets": SQL_GROUPING_SETS,
    "array_funcs": SQL_ARRAY_FUNCS,
    "skew_salted_join": SQL_SKEW_SALTED_JOIN,
    "market_share": SQL_MARKET_SHARE,
    "supplier_diversity": SQL_SUPPLIER_DIVERSITY,
    "benford_audit": SQL_BENFORD_AUDIT,
    "skyline_orders": SQL_SKYLINE_ORDERS,
    "top_supplier": SQL_TOP_SUPPLIER,
    "cust_order_distribution": SQL_CUST_ORDER_DISTRIBUTION,
    "waiting_suppliers": SQL_WAITING_SUPPLIERS,
    "decile_stats": SQL_DECILE_STATS,
    "fk_integrity": SQL_FK_INTEGRITY,
    "profile_table": SQL_PROFILE_TABLE,
}
