"""Workloads batch 4: classic multi-join / nested-aggregate shapes.

The reference never joins (SURVEY.md §2.3); these pin the full-engine
behavior a user of any analytics engine expects, in the canonical
TPC-H-like forms: market-share (multi-way join + conditional share-of-
total), argmax-of-aggregate (top supplier), two-level aggregation
(customer order-count distribution incl. zero counts via left join),
time-series gap detection (lag windows over event streams), and decile
bucketing (ntile feeding a re-aggregation).

Determinism: integer-cents money, shares as exact-long ratios divided in
double and rounded, epoch-second gaps as longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_collector_spark.workloads import _cents, _t


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


def q_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-stream gap detection: number of silences longer
    than 1 hour and the longest silence, from lag() over one per-user
    time sort. The window order is made total with event_id so ties at
    the same timestamp are deterministic. At scale this is one shuffle
    on user_id and a sort within partitions — the canonical
    time-series-quality scan."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .withColumn(
            # same epoch-seconds idiom as q_sessionization (NTZ->LTZ reads
            # the naive value in the UTC session tz; LTZ->long floors) so
            # gap semantics are uniform across the time-series queries and
            # well-defined for both MICROS and NTZ fixture generations
            "gap_s",
            F.col("ts").cast("timestamp_ltz").cast("long")
            - F.lag(F.col("ts").cast("timestamp_ltz").cast("long")).over(w),
        )
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.coalesce(
                F.sum(F.when(F.col("gap_s") > 3600, 1).otherwise(0)), F.lit(0)
            ).alias("n_gaps_1h"),
            F.max("gap_s").alias("max_gap_s"),
        )
    )


SQL_GAP_DETECT = """
WITH g AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
           AS gap_s
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COALESCE(SUM(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_gaps_1h,
       MAX(gap_s) AS max_gap_s
FROM g
GROUP BY user_id
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


def q_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins merge (operators/merge.py::scd1_merge): orders as the
    base snapshot, a deterministic delta of updates (every 10th key:
    status X, +1.00) and inserts (negated every-97th key), merged
    one-shuffle latest-wins, then aggregated per status so the gate
    hashes the post-merge state."""
    from database_collector_spark.operators.merge import scd1_merge

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        _cents("o_totalprice").alias("cents"),
        F.lit(0).alias("version"),
    )
    updates = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("cents") + 100).alias("cents"),
        F.lit(1).alias("version"),
    )
    inserts = base.filter(F.col("o_orderkey") % 97 == 0).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "cents",
        F.lit(1).alias("version"),
    )
    merged = scd1_merge(
        base, updates.unionByName(inserts), key="o_orderkey", version_col="version"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents_sum")
    )


SQL_SCD1_UPSERT = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, 0 AS version
  FROM orders
),
delta AS (
  SELECT o_orderkey, 'X' AS o_orderstatus, cents + 100 AS cents, 1 AS version
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT -o_orderkey - 1, 'N', cents, 1 FROM base WHERE o_orderkey % 97 = 0
),
u AS (
  SELECT *, 0 AS _src FROM base
  UNION ALL
  SELECT *, 1 AS _src FROM delta
),
m AS (
  SELECT o_orderkey, o_orderstatus, cents FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                 ORDER BY version DESC, _src DESC) AS rn
    FROM u) t
  WHERE rn = 1
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM m GROUP BY 1
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-keeping merge (operators/merge.py::scd2_merge) on the
    scd1_upsert fixture: every version survives, updates end-date their
    version-0 predecessor (valid_to=1, is_current=false), inserts and
    untouched rows stay open. Aggregated per (status, is_current) with a
    closed-row count so the gate hashes the full interval structure."""
    from database_collector_spark.operators.merge import scd2_merge

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        _cents("o_totalprice").alias("cents"),
        F.lit(0).alias("version"),
    )
    updates = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("cents") + 100).alias("cents"),
        F.lit(1).alias("version"),
    )
    inserts = base.filter(F.col("o_orderkey") % 97 == 0).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "cents",
        F.lit(1).alias("version"),
    )
    hist = scd2_merge(
        base, updates.unionByName(inserts), key="o_orderkey", version_col="version"
    )
    return hist.groupBy("o_orderstatus", "is_current").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("cents_sum"),
        F.count("valid_to").alias("n_closed"),
    )


SQL_SCD2_HISTORY = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, 0 AS version
  FROM orders
),
delta AS (
  SELECT o_orderkey, 'X' AS o_orderstatus, cents + 100 AS cents, 1 AS version
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT -o_orderkey - 1, 'N', cents, 1 FROM base WHERE o_orderkey % 97 = 0
),
u AS (
  SELECT *, 0 AS _src FROM base
  UNION ALL
  SELECT *, 1 AS _src FROM delta
),
hist AS (
  SELECT o_orderkey, o_orderstatus, cents, version,
         LEAD(version) OVER (PARTITION BY o_orderkey ORDER BY version) AS valid_to
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey, version
                                 ORDER BY _src DESC) AS rn
    FROM u) t
  WHERE rn = 1
)
SELECT o_orderstatus, valid_to IS NULL AS is_current,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents_sum,
       CAST(COUNT(valid_to) AS BIGINT) AS n_closed
FROM hist GROUP BY 1, 2
"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with deletes (operators/merge.py::cdc_apply): orders as
    the snapshot, a change stream of upserts (every 10th key: status X,
    +1.00, version 1) and later deletes (every 7th key, version 2).
    Delete-wins keys vanish; the post-apply state aggregates per status.
    Versions are strictly ordered so every key's outcome is
    deterministic."""
    from database_collector_spark.operators.merge import cdc_apply

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        _cents("o_totalprice").alias("cents"),
        F.lit(0).alias("version"),
    )
    upserts = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("cents") + 100).alias("cents"),
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
    )
    deletes = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        "cents",
        F.lit(2).alias("version"),
        F.lit("D").alias("op"),
    )
    applied = cdc_apply(
        base,
        upserts.unionByName(deletes),
        key="o_orderkey",
        version_col="version",
    )
    return applied.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents_sum")
    )


SQL_CDC_APPLY = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         0 AS version, 'U' AS op, 0 AS _src
  FROM orders
),
chg AS (
  SELECT o_orderkey, 'X' AS o_orderstatus, cents + 100 AS cents,
         1 AS version, 'U' AS op, 1 AS _src
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, cents, 2, 'D', 1
  FROM base WHERE o_orderkey % 7 = 0
),
m AS (
  SELECT o_orderkey, o_orderstatus, cents, op FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                 ORDER BY version DESC, _src DESC) AS rn
    FROM (SELECT * FROM base UNION ALL SELECT * FROM chg) u) t
  WHERE rn = 1 AND op <> 'D'
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM m GROUP BY 1
"""


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental.py):
    "yesterday's" aggregate (orders with o_orderkey%3 != 0) merged with
    today's delta (the %3 == 0 rows, including a retraction pair that
    cancels itself) must equal the from-scratch aggregate over ALL
    orders — which is exactly what the oracle computes, so the gate pins
    the maintenance identity itself, not the mechanics."""
    from database_collector_spark.operators.incremental import delta_agg, merge_agg

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", _cents("o_totalprice").alias("cents")
    )
    base_agg = delta_agg(
        orders.filter(F.col("o_orderkey") % 3 != 0),
        group_cols=["o_orderstatus"],
        sum_cols={"cents": "cents_sum"},
    )
    fresh = orders.filter(F.col("o_orderkey") % 3 == 0)
    # a self-cancelling retraction: one synthetic row + its negation —
    # the merged result must be unaffected (additive-fold absorption)
    wiggle = spark.createDataFrame(
        [(-1, "Z", 500), (-1, "Z", -500)],
        "o_orderkey long, o_orderstatus string, cents long",
    )
    merged = merge_agg(
        base_agg,
        fresh.unionByName(wiggle),
        group_cols=["o_orderstatus"],
        sum_cols={"cents": "cents_sum"},
    )
    # the Z group keeps count 2 (two physical rows) but nets to 0 cents;
    # drop it the way a real pipeline drops fully-retracted groups —
    # count-negated retractions: emit (-1-count) rows... simpler: the
    # wiggle rows model a same-batch correction, so Z survives with n=2,
    # cents_sum=0, and the oracle reproduces that pair explicitly.
    return merged


SQL_INCREMENTAL_AGG = """
WITH all_rows AS (
  SELECT o_orderstatus, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  UNION ALL SELECT 'Z', 500
  UNION ALL SELECT 'Z', -500
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM all_rows GROUP BY 1
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-set generation (operators/merge.py::snapshot_diff):
    "old" = orders as-is; "new" = orders with every 10th key's price
    bumped (update), every 97th key dropped (delete), and a negated-key
    copy of every 53rd key added (insert). The diff must emit exactly
    those I/U/D rows — aggregated per (op, status) so the gate hashes
    the full change classification. Keys hit by both rules exercise
    precedence (a dropped key can't also update)."""
    from database_collector_spark.operators.merge import snapshot_diff

    old = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", _cents("o_totalprice").alias("cents")
    )
    kept = old.filter(F.col("o_orderkey") % 97 != 0)
    bumped = kept.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("cents") + 100)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    inserted = old.filter(F.col("o_orderkey") % 53 == 0).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "cents",
    )
    new = bumped.unionByName(inserted)
    diff = snapshot_diff(old, new, key="o_orderkey")
    return diff.groupBy("op", "o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents_sum")
    )


SQL_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 0 THEN cents + 100 ELSE cents END AS cents
  FROM old WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT -o_orderkey - 1, 'N', cents FROM old WHERE o_orderkey % 53 = 0
),
d AS (
  SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN n.o_orderstatus
              WHEN n.o_orderkey IS NULL THEN o.o_orderstatus
              ELSE n.o_orderstatus END AS o_orderstatus,
         CASE WHEN o.o_orderkey IS NULL THEN n.cents
              WHEN n.o_orderkey IS NULL THEN o.cents
              ELSE n.cents END AS cents,
         CASE WHEN o.o_orderkey IS NULL THEN 'I'
              WHEN n.o_orderkey IS NULL THEN 'D'
              WHEN n.o_orderstatus <> o.o_orderstatus OR n.cents <> o.cents THEN 'U'
              END AS op
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT op, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM d WHERE op IS NOT NULL
GROUP BY 1, 2
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


def q_fk_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fk_integrity orphan audit re-planned through the broadcast
    Bloom-filter pre-reduction (operators/bloom.py::bloom_anti_join):
    per FK edge, bloom-rejected child rows are counted as orphans with
    ZERO shuffle (no false negatives), and only bloom-accepted rows —
    matches plus a ~1e-3 sliver of false positives — pay the exact anti
    join. Exactness is free (the exact join re-ejects false positives),
    so the oracle is the PLAIN NOT-EXISTS SQL with no bloom anywhere in
    it: any hash/bitset/routing defect changes the orphan counts. Parent
    drops every 7th key (vs fk_integrity's 13th) so the two gates'
    expected counts differ."""
    from database_collector_spark.operators import bloom

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders_kept = orders.filter(F.col("o_orderkey") % 7 != 0).select("o_orderkey")
    cust_kept = cust.filter(F.col("c_custkey") % 7 != 0)
    e1 = (
        bloom.bloom_anti_join(
            li,
            orders_kept,
            child_key="l_orderkey",
            parent_key="o_orderkey",
            num_bits=1 << 21,
        )
        .agg(F.count("*").alias("n_orphans"))
        .select(F.lit("lineitem->orders").alias("edge"), "n_orphans")
    )
    e2 = (
        bloom.bloom_anti_join(
            orders.select("o_custkey"),
            cust_kept,
            child_key="o_custkey",
            parent_key="c_custkey",
            num_bits=1 << 21,
        )
        .agg(F.count("*").alias("n_orphans"))
        .select(F.lit("orders->customer").alias("edge"), "n_orphans")
    )
    return e1.unionByName(e2)


SQL_FK_BLOOM = """
SELECT 'lineitem->orders' AS edge,
       CAST(COUNT(*) AS BIGINT) AS n_orphans
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderkey % 7 <> 0)
UNION ALL
SELECT 'orders->customer',
       CAST(COUNT(*) AS BIGINT)
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 7 <> 0)
"""


def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct customers per order status via mergeable bitmap
    aggregation (operators/sketches.py::bitmap_distinct): one 4 KiB
    bitmap per (status, 32k-key bucket) folds map-side, so the shuffle
    never carries per-key rows — the exact-count plan that scales where
    COUNT(DISTINCT)'s expand does not. The oracle IS the plain
    COUNT(DISTINCT), so any dropped/doubled bit mismatches."""
    from database_collector_spark.operators import sketches

    return sketches.bitmap_distinct(
        _t(spark, sf_dir, "orders"), ["o_orderstatus"], "o_custkey"
    )


SQL_BITMAP_DISTINCT = """
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_o_custkey
FROM orders GROUP BY o_orderstatus
"""


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics — the pre-flight check before any
    big keyed join/agg (the salting decision in SCALE.md needs exactly
    these numbers). Per event_type, profile the user_id key
    distribution: key count, row count, the heaviest key's share
    numerator (max_n), the top-10-keys mass (top10_n), and the Gini
    coefficient of key counts. Every statistic is derived from exact
    integer counts; Gini's closed form over ascending-sorted counts
    G = (2·Σ rank·c − (n+1)·Σc) / (n·Σc) has an exact BIGINT numerator
    and denominator, so the rounded double agrees across engines.
    Plan (r13 rewrite): one (type,user) count aggregate — the only
    corpus-sized shuffle — then everything rides COMPRESSED tables. The
    old form ranked every per-key count row in per-type windows: with a
    handful of event types that is a |keys|-row single-task sort per
    type, the exact funnel this gate exists to warn about. Now the
    ascending rank mass comes from count-value compression + the
    two-level ``prefix_count_below`` pass — keys sharing count c occupy
    the contiguous rank run [below+1, below+m], so
    Σ rank·c = c·(m·below + m(m+1)/2) per distinct count — and the
    top-10 branch keeps Spark's rank-limit pushdown (row_number +
    filter ≤ 10 → WindowGroupLimit: each task keeps 10 rows before the
    per-type sort). Values identical to the windowed form. NULL
    event_type rows are ACTIVELY EXCLUDED on BOTH sides (third-pass
    review: the prefix pass drops NULL keys, so the old form's NULL-type
    output row would vanish from the Spark side only; NULL user_id
    stays — it is a legitimate key VALUE in both engines' grouping)."""
    from database_collector_spark.operators import ranking as _ranking

    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    counts = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("c"))
    # lazy localCheckpoint: counts feeds BOTH the compressed rank-mass
    # path and the top-10 branch; cc feeds the prefix branches
    counts = counts.localCheckpoint(eager=False)
    cc = counts.groupBy("event_type", "c").agg(
        F.count("*").cast("long").alias("m")
    ).localCheckpoint(eager=False)
    below = _ranking.prefix_count_below(
        cc, ["event_type"], "c", "m", out_col="below"
    )
    run_mass = F.col("c") * (
        F.col("m") * F.col("below") + F.expr("m * (m + 1) div 2")
    )
    agg_main = below.groupBy("event_type").agg(
        F.sum("m").cast("long").alias("n_keys"),
        F.sum(F.col("c") * F.col("m")).cast("long").alias("n_rows"),
        F.max("c").alias("max_n"),
        F.sum(run_mass).cast("long").alias("rank_mass"),
    )
    w_desc = Window.partitionBy("event_type").orderBy(
        F.desc("c"), F.asc("user_id")
    )
    top10 = (
        counts.withColumn("rk_desc", F.row_number().over(w_desc))
        .where(F.col("rk_desc") <= 10)
        .groupBy("event_type")
        .agg(F.sum("c").cast("long").alias("top10_n"))
    )
    agg = agg_main.join(F.broadcast(top10), "event_type")
    gini = (
        (2 * F.col("rank_mass") - (F.col("n_keys") + 1) * F.col("n_rows"))
        .cast("double")
        / (F.col("n_keys") * F.col("n_rows")).cast("double")
    )
    return agg.select(
        "event_type",
        "n_keys",
        "n_rows",
        "max_n",
        "top10_n",
        F.round(gini, 6).alias("gini"),
    )


SQL_KEY_SKEW_PROFILE = """
WITH counts AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM events
  -- NULL-type exclusion mirrors the Spark side's active filter
  WHERE event_type IS NOT NULL
  GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, c,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c ASC, user_id ASC) AS rk_asc,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c DESC, user_id ASC) AS rk_desc
  FROM counts
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(MAX(c) AS BIGINT) AS max_n,
         CAST(SUM(CASE WHEN rk_desc <= 10 THEN c ELSE 0 END) AS BIGINT) AS top10_n,
         CAST(SUM(rk_asc * c) AS BIGINT) AS rank_mass
  FROM ranked GROUP BY event_type
)
SELECT event_type, n_keys, n_rows, max_n, top10_n,
       round(CAST(2*rank_mass - (n_keys + 1)*n_rows AS DOUBLE)
             / CAST(n_keys * n_rows AS DOUBLE), 6) AS gini
FROM agg
"""


def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a feature column — the standard ML
    preprocessing step mapping each value to its within-group quantile
    rank: pr = (rank − 1) / (n − 1), RANK() semantics so ties share a
    rank. Exact rational from integer rank/count → one identical double
    division per row on both engines.

    Scale shape (r13 rewrite): the old form ranked EVERY event row in a
    per-event_type window — a handful of types means whole-corpus
    fractions sorted in single tasks. RANK() over (type, v) is exactly
    ``1 + (rows with strictly smaller v)``, so the rank table now comes
    from value-domain compression + ``prefix_count_below``'s two-level
    pass, and the per-row output is a (type, v)-keyed equi-join back to
    the rows — high-cardinality join keys supply the parallelism, no
    per-type corpus sort anywhere. Values identical (rank() = below+1,
    same n). NULL type/value rows are ACTIVELY EXCLUDED on BOTH sides
    (third-pass review: the prefix pass drops NULL keys/values and a
    NULL join key never matches, so without the explicit shared filter
    a NULL row would vanish from the Spark side only the first time
    real data carried one — the theil_sen contract stance)."""
    from database_collector_spark.operators import ranking

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_id", "event_type", cents.alias("v"))
    # lazy localCheckpoint (the auc/_ks pattern): the prefix branches +
    # totals + the join back each reference the compressed table
    comp = base.groupBy("event_type", "v").agg(
        F.count("*").cast("long").alias("cnt")
    ).localCheckpoint(eager=False)
    below = ranking.prefix_count_below(
        comp, ["event_type"], "v", "cnt", out_col="below"
    )
    totals = comp.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("n"))
    ranks = below.join(F.broadcast(totals), "event_type").select(
        "event_type", "v", F.col("below").alias("rk0"), "n"
    )
    return base.join(ranks, ["event_type", "v"]).select(
        "event_id",
        "event_type",
        F.round(
            F.col("rk0").cast("double") / (F.col("n") - 1).cast("double"), 6
        ).alias("pr"),
    )


SQL_QUANTILE_NORM = """
WITH base AS (
  SELECT event_id, event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
  -- NULL exclusion mirrors the Spark side's active filter (contract)
  WHERE event_type IS NOT NULL AND value IS NOT NULL
)
SELECT event_id, event_type,
       round(CAST(RANK() OVER (PARTITION BY event_type ORDER BY v ASC) - 1 AS DOUBLE)
             / CAST(COUNT(*) OVER (PARTITION BY event_type) - 1 AS DOUBLE), 6) AS pr
FROM base
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


def q_dist_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between two time periods — the data-
    quality check a training pipeline runs before trusting a new
    snapshot: bin `value` into fixed equi-width bins, compare each bin's
    share between the first and second half-month, and report the
    per-bin total-variation contribution in exact integer ppb
    (|n_a·N_b − n_b·N_a| · 1e9 // (N_a·N_b) — the cross-multiplied form
    of |p_a − p_b|, no float subtraction of near-equal shares). The sum
    of tv_ppb over bins is 2e9·TV(P_a, P_b). `drifted` flags bins whose
    share moved ≥ 1% absolute — an integer compare, so the verdict is
    deterministic at any scale.

    Plan: ONE scan — bin + period are map-side expressions feeding a
    single 12-group conditional aggregate; the N_a/N_b totals are a
    window over that aggregate's OUTPUT, whose size is the fixed bin
    count (<= 12 rows reach the window — bounded by construction, not a
    data-sized single partition; the broadcast-crossjoin alternative
    plans a second full scan because Catalyst does not reuse the
    aggregate exchange across the two consumers). Fixed bin edges keep
    the audit single-pass (a data-driven min/max would add a pre-pass);
    DECIMAL(38,0) cross-products kill the int64 overflow cliff at
    petabyte row counts."""
    ev = _t(spark, sf_dir, "events")
    mid = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    # NULL-total comparison: when(...).otherwise(0) matches the oracle's
    # CASE WHEN (a NULL ts counts in period B), where a bare cast would
    # silently drop NULL-ts rows from BOTH halves
    in_a = F.when(F.col("ts") < mid, F.lit(1)).otherwise(F.lit(0)).cast("long")
    per_bin = (
        ev.select(
            F.least(F.floor(F.col("value") / 50), F.lit(11)).cast("long").alias("bin"),
            in_a.alias("in_a"),
        )
        .groupBy("bin")
        .agg(
            F.sum("in_a").alias("n_a"),
            F.sum(F.lit(1) - F.col("in_a")).alias("n_b"),
        )
    )
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with_tot = per_bin.select(
        "bin",
        "n_a",
        "n_b",
        F.sum("n_a").over(w).alias("na_tot"),
        F.sum("n_b").over(w).alias("nb_tot"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = F.abs(
        dec(F.col("n_a")) * dec(F.col("nb_tot"))
        - dec(F.col("n_b")) * dec(F.col("na_tot"))
    ) * F.lit(1_000_000_000).cast("decimal(38,0)")
    den = dec(F.col("na_tot")) * dec(F.col("nb_tot"))
    tv = ((num - num % den) / den).cast("long")
    return with_tot.select(
        "bin",
        "n_a",
        "n_b",
        tv.alias("tv_ppb"),
        (tv >= 10_000_000).alias("drifted"),
    )


SQL_DIST_DRIFT = """
WITH binned AS (
  SELECT LEAST(CAST(FLOOR(value / 50) AS BIGINT), 11) AS bin,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS in_a
  FROM events
),
per_bin AS (
  SELECT bin, SUM(in_a) AS n_a, SUM(1 - in_a) AS n_b FROM binned GROUP BY bin
),
tot AS (SELECT SUM(n_a) AS na_tot, SUM(n_b) AS nb_tot FROM per_bin)
SELECT bin, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST((ABS(CAST(n_a AS HUGEINT) * nb_tot - CAST(n_b AS HUGEINT) * na_tot)
             * 1000000000) // (CAST(na_tot AS HUGEINT) * nb_tot) AS BIGINT)
         AS tv_ppb,
       (ABS(CAST(n_a AS HUGEINT) * nb_tot - CAST(n_b AS HUGEINT) * na_tot)
             * 1000000000) // (CAST(na_tot AS HUGEINT) * nb_tot) >= 10000000
         AS drifted
FROM per_bin, tot
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per bin — the industry drift score
    next to `dist_drift`'s total-variation: psi_bin =
    (pB − pA)·ln(pB/pA) with add-one (Laplace) smoothed shares
    pX = (nX + 1)/(NX + 12), so empty bins contribute a finite term
    instead of ±inf (the standard PSI smoothing). Same fixed 12-bin
    equi-width layout and half-month split as dist_drift; shares are
    exact rationals, one ln per bin, result rounded to 6 (rule of
    thumb: psi_total < 0.1 stable, > 0.25 shifted).

    ALL 12 bins are emitted (a fixed spine left-joins the observed
    counts, zero-filled): a bin empty in both halves still carries its
    nonzero smoothed term whenever the half totals differ, so summing
    the output rows IS the 12-term smoothed PSI — omitting unobserved
    bins would silently undercount the statistic against its own
    definition.

    Plan: identical to dist_drift — ONE scan into a 12-group
    conditional aggregate; totals from the bounded post-aggregate
    window; the spine join touches 12 rows."""
    ev = _t(spark, sf_dir, "events")
    mid = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    # NULL-total comparison: when(...).otherwise(0) matches the oracle's
    # CASE WHEN (a NULL ts counts in period B), where a bare cast would
    # silently drop NULL-ts rows from BOTH halves
    in_a = F.when(F.col("ts") < mid, F.lit(1)).otherwise(F.lit(0)).cast("long")
    per_bin = (
        ev.select(
            F.least(F.floor(F.col("value") / 50), F.lit(11))
            .cast("long")
            .alias("bin"),
            in_a.alias("in_a"),
        )
        .groupBy("bin")
        .agg(
            F.sum("in_a").alias("n_a"),
            F.sum(F.lit(1) - F.col("in_a")).alias("n_b"),
        )
    )
    spine = spark.range(0, 12).select(F.col("id").alias("bin"))
    per_bin = spine.join(per_bin, "bin", "left").select(
        "bin",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with_tot = per_bin.select(
        "bin",
        "n_a",
        "n_b",
        F.sum("n_a").over(w).alias("na_tot"),
        F.sum("n_b").over(w).alias("nb_tot"),
    )
    pa = (F.col("n_a") + 1) / (F.col("na_tot") + 12)
    pb = (F.col("n_b") + 1) / (F.col("nb_tot") + 12)
    return with_tot.select(
        "bin",
        "n_a",
        "n_b",
        F.round((pb - pa) * F.log(pb / pa), 6).alias("psi_bin"),
    )


SQL_PSI_DRIFT = """
WITH binned AS (
  SELECT LEAST(CAST(FLOOR(value / 50) AS BIGINT), 11) AS bin,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS in_a
  FROM events
),
obs AS (
  SELECT bin, SUM(in_a) AS n_a, SUM(1 - in_a) AS n_b FROM binned GROUP BY bin
),
per_bin AS (
  SELECT s.bin, COALESCE(o.n_a, 0) AS n_a, COALESCE(o.n_b, 0) AS n_b
  FROM (SELECT unnest(generate_series(0, 11)) AS bin) s
  LEFT JOIN obs o ON o.bin = s.bin
),
tot AS (SELECT SUM(n_a) AS na_tot, SUM(n_b) AS nb_tot FROM per_bin),
sh AS (
  SELECT bin, n_a, n_b,
         (CAST(n_a AS DOUBLE) + 1) / (na_tot + 12) AS pa,
         (CAST(n_b AS DOUBLE) + 1) / (nb_tot + 12) AS pb
  FROM per_bin, tot
)
SELECT bin, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round((pb - pa) * ln(pb / pa), 6) AS psi_bin
FROM sh
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


def q_capped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running balance per user (inventory/credit
    semantics): purchases add cents, errors subtract them, and the
    balance clamps at 0 — balance_i = max(0, balance_{i-1} + delta_i),
    a NON-LINEAR recurrence no window frame can express (unlike a
    running sum, each step depends on the clamped previous value).

    The scalable exact form for bounded per-key histories is the in-row
    fold: one key-sorted collect, then `aggregate()` (a codegen
    higher-order fold) — one shuffle, sequential work confined inside
    each row. The sequential dependence is irreducible (this is a
    prefix computation that does not associate); for keys whose history
    exceeds row budgets, chunk through applyInPandasWithState and carry
    the clamp across chunks. All arithmetic exact int64 cents."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    delta = (
        F.when(F.col("event_type") == "purchase", cents)
        .when(F.col("event_type") == "error", -cents)
        .otherwise(F.lit(0))
    )
    per_user = ev.select(
        "user_id",
        F.struct("ts", "event_id", delta.alias("d")).alias("s"),
    ).groupBy("user_id").agg(
        F.array_sort(F.collect_list("s")).alias("hist")
    )
    fold = F.aggregate(
        F.col("hist"),
        F.lit(0).cast("long"),
        lambda acc, s: F.greatest(F.lit(0).cast("long"), acc + s["d"]),
    )
    return per_user.select(
        "user_id",
        F.size("hist").cast("long").alias("n_deltas"),
        fold.alias("final_balance"),
    )


SQL_CAPPED_BALANCE = """
WITH d AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN CAST(ROUND(value*100) AS BIGINT)
              WHEN event_type = 'error' THEN -CAST(ROUND(value*100) AS BIGINT)
              ELSE 0 END AS delta
  FROM events
),
h AS (
  SELECT user_id, list(delta ORDER BY ts, event_id) AS hist FROM d GROUP BY user_id
)
SELECT user_id, CAST(len(hist) AS BIGINT) AS n_deltas,
       list_reduce(list_prepend(CAST(0 AS BIGINT), hist),
                   (acc, x) -> GREATEST(CAST(0 AS BIGINT), acc + x))
         AS final_balance
FROM h
"""


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksum of the orders table
    (`operators/checksum.py::table_checksum`) — the replica-equality
    primitive for every copy this engine makes (JDBC ingest, CDC apply,
    upsert generations). Columns are canonicalized to engine-stable
    strings (ints, cents, epoch days); the fold is four commutative
    32-bit md5-word sums, so the result is independent of partitioning
    and row order and comparable across engines."""
    from database_collector_spark.operators.checksum import table_checksum

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("k"),
        F.col("o_custkey").cast("string").alias("c"),
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string").alias("cents"),
        F.floor(F.col("o_orderdate").cast("timestamp_ltz").cast("long") / 86400)
        .cast("long")
        .cast("string")
        .alias("day"),
    )
    return table_checksum(o, ("k", "c", "s", "p", "cents", "day"))


SQL_TABLE_CHECKSUM = """
WITH canon AS (
  SELECT md5(concat_ws('|',
           CAST(o_orderkey AS VARCHAR),
           CAST(o_custkey AS VARCHAR),
           o_orderstatus,
           o_orderpriority,
           CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR),
           CAST(CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS VARCHAR)
         )) AS h
  FROM orders
),
words AS (
  SELECT
    list_sum(list_transform(range(1, 9),
      i -> CAST(strpos('0123456789abcdef', substr(h, i, 1)) - 1 AS BIGINT)
           * (CAST(1 AS BIGINT) << (4 * (8 - i))))) AS h1,
    list_sum(list_transform(range(1, 9),
      i -> CAST(strpos('0123456789abcdef', substr(h, 8 + i, 1)) - 1 AS BIGINT)
           * (CAST(1 AS BIGINT) << (4 * (8 - i))))) AS h2,
    list_sum(list_transform(range(1, 9),
      i -> CAST(strpos('0123456789abcdef', substr(h, 16 + i, 1)) - 1 AS BIGINT)
           * (CAST(1 AS BIGINT) << (4 * (8 - i))))) AS h3,
    list_sum(list_transform(range(1, 9),
      i -> CAST(strpos('0123456789abcdef', substr(h, 24 + i, 1)) - 1 AS BIGINT)
           * (CAST(1 AS BIGINT) << (4 * (8 - i))))) AS h4
  FROM canon
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(h1) AS BIGINT) AS sum_h1,
       CAST(SUM(h2) AS BIGINT) AS sum_h2,
       CAST(SUM(h3) AS BIGINT) AS sum_h3,
       CAST(SUM(h4) AS BIGINT) AS sum_h4
FROM words
"""


QUERIES = {
    "market_share": q_market_share,
    "table_checksum": q_table_checksum,
    "supplier_diversity": q_supplier_diversity,
    "capped_balance": q_capped_balance,
    "benford_audit": q_benford_audit,
    "skyline_orders": q_skyline_orders,
    "dist_drift": q_dist_drift,
    "psi_drift": q_psi_drift,
    "top_supplier": q_top_supplier,
    "cust_order_distribution": q_cust_order_distribution,
    "gap_detect": q_gap_detect,
    "waiting_suppliers": q_waiting_suppliers,
    "decile_stats": q_decile_stats,
    "scd1_upsert": q_scd1_upsert,
    "scd2_history": q_scd2_history,
    "cdc_apply": q_cdc_apply,
    "incremental_agg": q_incremental_agg,
    "snapshot_diff": q_snapshot_diff,
    "fk_integrity": q_fk_integrity,
    "fk_bloom": q_fk_bloom,
    "bitmap_distinct": q_bitmap_distinct,
    "key_skew_profile": q_key_skew_profile,
    "quantile_norm": q_quantile_norm,
    "profile_table": q_profile_table,
}

ORACLES = {
    "market_share": SQL_MARKET_SHARE,
    "table_checksum": SQL_TABLE_CHECKSUM,
    "supplier_diversity": SQL_SUPPLIER_DIVERSITY,
    "capped_balance": SQL_CAPPED_BALANCE,
    "benford_audit": SQL_BENFORD_AUDIT,
    "skyline_orders": SQL_SKYLINE_ORDERS,
    "dist_drift": SQL_DIST_DRIFT,
    "psi_drift": SQL_PSI_DRIFT,
    "top_supplier": SQL_TOP_SUPPLIER,
    "cust_order_distribution": SQL_CUST_ORDER_DISTRIBUTION,
    "gap_detect": SQL_GAP_DETECT,
    "waiting_suppliers": SQL_WAITING_SUPPLIERS,
    "decile_stats": SQL_DECILE_STATS,
    "scd1_upsert": SQL_SCD1_UPSERT,
    "scd2_history": SQL_SCD2_HISTORY,
    "cdc_apply": SQL_CDC_APPLY,
    "incremental_agg": SQL_INCREMENTAL_AGG,
    "snapshot_diff": SQL_SNAPSHOT_DIFF,
    "fk_integrity": SQL_FK_INTEGRITY,
    "fk_bloom": SQL_FK_BLOOM,
    "bitmap_distinct": SQL_BITMAP_DISTINCT,
    "key_skew_profile": SQL_KEY_SKEW_PROFILE,
    "quantile_norm": SQL_QUANTILE_NORM,
    "profile_table": SQL_PROFILE_TABLE,
}
