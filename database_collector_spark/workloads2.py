"""Workloads batch 2: engine-completeness operators.

SURVEY.md §2 notes the reference needs no joins/windows/set-ops of its own
(§2.3, §2.7) but the target engine exposes Spark's full relational surface
for the extension workloads; this batch pins that surface with DuckDB
oracles: semi/anti joins, correlated aggregates, running windows,
string/date scalar functions, CUBE grouping sets, unpivot, conditional
aggregation, exact interpolated percentiles, argmax-per-group, and the
1-probe IVF ANN search path.

Determinism conventions (same as workloads.py): money via integer cents,
window orderings made total with key tie-breaks, interpolation only at
dyadic quantiles over integers (both engines' formulas are then exact),
collected lists explicitly sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_collector_spark.operators import similarity
from database_collector_spark.workloads import _cents, _t
from database_collector_spark.workloads_ext import _SQL_QUANT

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


# ---------------------------------------------------------------------------
# ANN: IVF-style 1-probe search
# ---------------------------------------------------------------------------


def q_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flavored ANN: coarse quantizer = sign-projection LSH bucket;
    probe = exact cosine top-3 within the query's own bucket only.

    This is the 100 TB search path the brute-force similarity_topk is the
    oracle for: the bucket id is the partition key at rest, so one probe
    touches one partition instead of the whole corpus. Recall loss vs
    brute force is the measured LSH tradeoff, not an implementation gap.
    """
    emb = _t(spark, sf_dir, "embeddings")
    buckets = similarity.lsh_buckets(emb).select("vec_id", "bucket")
    base = similarity.with_quantized(emb).join(buckets, "vec_id")
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("qe").alias("q_qe"),
        F.col("qnorm2").alias("q_n2"),
        F.col("bucket").alias("q_bucket"),
    )
    c = base.select(
        F.col("vec_id").alias("c_id"),
        F.col("qe").alias("c_qe"),
        F.col("qnorm2").alias("c_n2"),
        F.col("bucket").alias("c_bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("q_bucket") == F.col("c_bucket"))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (
                similarity._dot("q_qe", "c_qe").cast("double")
                / (
                    F.sqrt(F.col("q_n2").cast("double"))
                    * F.sqrt(F.col("c_n2").cast("double"))
                )
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", F.round("cos_raw", 6).alias("cos"), "rank")
    )


def _sql_ann_ivf() -> str:
    from database_collector_spark.workloads_ext import _sql_ann_lsh

    # reuse the bucket SQL as a CTE by nesting the full select
    bucket_sql = _sql_ann_lsh().strip()
    return f"""
WITH {_SQL_QUANT},
buckets AS ({bucket_sql}),
p AS (
  SELECT qb.vec_id AS q_id, cb.vec_id AS c_id, SUM(q.qe[i] * c.qe[i]) AS dot
  FROM buckets qb
  JOIN buckets cb ON cb.bucket = qb.bucket AND cb.vec_id <> qb.vec_id
  JOIN qe q ON q.vec_id = qb.vec_id
  JOIN qe c ON c.vec_id = cb.vec_id
  CROSS JOIN idx
  WHERE qb.vec_id < 10
  GROUP BY 1, 2
),
scored AS (
  SELECT p.q_id, p.c_id,
         CAST(p.dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cos_raw
  FROM p JOIN norms nq ON nq.vec_id = p.q_id JOIN norms nc ON nc.vec_id = p.c_id
),
ranked AS (
  SELECT q_id, c_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, c_id ASC) AS rank
  FROM scored
)
SELECT q_id, c_id, round(cos_raw, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN: probe the query's own LSH cell AND every
    Hamming-distance-1 neighbor cell (flip each of the 8 sign bits).

    The standard recall lever for sign-projection IVF: a near neighbor
    that lands just across one hyperplane is recovered without touching
    the rest of the corpus — 9 cells probed out of 256 instead of 1,
    still ~3% of the data. The probe list is a per-query explode (9 rows
    per query, query side stays broadcastable); candidate cells can't
    overlap (each vector lives in exactly one cell), so no dedup pass is
    needed before ranking.
    """
    emb = _t(spark, sf_dir, "embeddings")
    buckets = similarity.lsh_buckets(emb).select("vec_id", "bucket")
    base = similarity.with_quantized(emb).join(buckets, "vec_id")
    masks = F.array([F.lit(0)] + [F.lit(1 << i) for i in range(8)])
    q = (
        base.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("qe").alias("q_qe"),
            F.col("qnorm2").alias("q_n2"),
            F.explode(masks).alias("m"),
            F.col("bucket"),
        )
        .select(
            "q_id", "q_qe", "q_n2",
            F.col("bucket").bitwiseXOR(F.col("m")).alias("probe"),
        )
    )
    c = base.select(
        F.col("vec_id").alias("c_id"),
        F.col("qe").alias("c_qe"),
        F.col("qnorm2").alias("c_n2"),
        F.col("bucket").alias("c_bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("probe") == F.col("c_bucket"))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (
                similarity._dot("q_qe", "c_qe").cast("double")
                / (
                    F.sqrt(F.col("q_n2").cast("double"))
                    * F.sqrt(F.col("c_n2").cast("double"))
                )
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", F.round("cos_raw", 6).alias("cos"), "rank")
    )


def _sql_ann_ivf_multiprobe() -> str:
    from database_collector_spark.workloads_ext import _sql_ann_lsh

    bucket_sql = _sql_ann_lsh().strip()
    return f"""
WITH {_SQL_QUANT},
buckets AS ({bucket_sql}),
masks AS (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m),
p AS (
  SELECT qb.vec_id AS q_id, cb.vec_id AS c_id, SUM(q.qe[i] * c.qe[i]) AS dot
  FROM buckets qb
  CROSS JOIN masks
  JOIN buckets cb ON cb.bucket = xor(qb.bucket, masks.m) AND cb.vec_id <> qb.vec_id
  JOIN qe q ON q.vec_id = qb.vec_id
  JOIN qe c ON c.vec_id = cb.vec_id
  CROSS JOIN idx
  WHERE qb.vec_id < 10
  GROUP BY 1, 2
),
scored AS (
  SELECT p.q_id, p.c_id,
         CAST(p.dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cos_raw
  FROM p JOIN norms nq ON nq.vec_id = p.q_id JOIN norms nc ON nc.vec_id = p.c_id
),
ranked AS (
  SELECT q_id, c_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, c_id ASC) AS rank
  FROM scored
)
SELECT q_id, c_id, round(cos_raw, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED coarse quantizer: deterministic Lloyd's k-means
    (operators/similarity.py:kmeans_centroids) instead of the untrained
    sign-projection buckets of ann_ivf_probe. Gate output = the trained
    cell structure: per cell, member count, member-id checksum and
    centroid-component checksum — any divergence in any iteration's
    assignment or centroid arithmetic changes at least one of them.
    """
    emb = _t(spark, sf_dir, "embeddings")
    # kmeans_fit returns the trainer's checkpointed quantized frame —
    # the final assignment reuses it instead of re-deriving
    # with_quantized from a second corpus scan (r16)
    base, cents = similarity.kmeans_fit(emb, k=8, iters=3)
    assigned = similarity.assign_centroids(base, cents)
    checksum = F.element_at(
        F.array(*[F.lit(int(sum(c))).cast("long") for c in cents]),
        F.col("cid") + 1,
    )
    return (
        assigned.groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("vec_id").alias("members_checksum"),
        )
        .withColumn("centroid_checksum", checksum)
    )


def _sql_kmeans_ctes(k: int = 8, iters: int = 3, src: str = "qe") -> str:
    """The deterministic Lloyd iterations unrolled as a CTE chain ending
    in ``afinal`` (vec_id, qe, cid) and ``c{iters}`` (cid, c) — shared by
    the training gate, the trained-probe gate, and (with ``src`` set to
    a corpus-restricted CTE) the incremental-maintenance gate."""
    dist = (
        "list_dot_product(q.qe, q.qe) - 2 * list_dot_product(q.qe, c.c)"
        " + list_dot_product(c.c, c.c)"
    )

    def assign(name: str, cent: str, source: str = src) -> str:
        return f"""{name} AS (
  SELECT vec_id, qe, cid FROM (
    SELECT q.vec_id, q.qe, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {dist}, c.cid) AS rn
    FROM {source} q CROSS JOIN {cent} c) WHERE rn = 1
)"""

    ctes = [
        f"""c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, qe AS c
  FROM (SELECT vec_id, qe FROM {src} ORDER BY vec_id LIMIT {k})
)"""
    ]
    for it in range(iters):
        ctes.append(assign(f"a{it}", f"c{it}"))
        ctes.append(
            f"""s{it} AS (
  SELECT cid, i AS pos,
         CAST(ROUND(CAST(SUM(qe[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS comp
  FROM a{it}, idx GROUP BY cid, i
)"""
        )
        ctes.append(
            f"""c{it + 1} AS (
  SELECT cid, list(comp ORDER BY pos) AS c FROM s{it} GROUP BY cid
  UNION ALL
  SELECT cid, c FROM c{it} WHERE cid NOT IN (SELECT cid FROM s{it})
)"""
        )
    ctes.append(assign("afinal", f"c{iters}"))
    body = ",\n".join(ctes)
    return f"""
WITH {_SQL_QUANT},
{body}"""


def _sql_kmeans_ivf(k: int = 8, iters: int = 3) -> str:
    return f"""{_sql_kmeans_ctes(k, iters)}
SELECT a.cid, COUNT(*) AS n_members,
       CAST(SUM(a.vec_id) AS BIGINT) AS members_checksum,
       CAST(cc.s AS BIGINT) AS centroid_checksum
FROM afinal a
JOIN (SELECT cid, list_sum(c) AS s FROM c{iters}) cc USING (cid)
GROUP BY a.cid, cc.s
"""


def q_ann_ivf_kmeans_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search over the TRAINED cells: each query vector (vec_id < 10)
    ranks exact cosine against its own k-means cell only — the probe
    step completing the train -> assign -> probe IVF story
    (`ann_ivf_probe` is the same search over untrained sign-projection
    buckets). One probe touches one cell partition at any corpus size.
    """
    emb = _t(spark, sf_dir, "embeddings")
    # reuse the trainer's checkpointed quantized frame (r16; see
    # q_ann_ivf_kmeans) — the probe's two branches (queries + cells)
    # then both read the one materialization
    qbase, cents = similarity.kmeans_fit(emb, k=8, iters=3)
    base = similarity.assign_centroids(qbase, cents)
    # probe body shared with the persisted-index round-trip gate — ONE
    # definition (similarity.cell_cosine_probe), so the two cannot drift
    return similarity.cell_cosine_probe(base.filter(F.col("vec_id") < 10), base)


def _sql_kmeans_probe(k: int = 8, iters: int = 3) -> str:
    return f"""{_sql_kmeans_ctes(k, iters)},
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         round(list_dot_product(q.qe, c.qe)
               / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))), 6) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_dot_product(q.qe, c.qe)
                    / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) DESC,
                    c.vec_id ASC) AS rank
  FROM afinal q
  JOIN afinal c ON q.cid = c.cid AND q.vec_id <> c.vec_id
  JOIN norms nq ON nq.vec_id = q.vec_id
  JOIN norms nc ON nc.vec_id = c.vec_id
  WHERE q.vec_id < 10
)
SELECT q_id, c_id, cos, CAST(rank AS BIGINT) AS rank
FROM scored WHERE rank <= 3
"""


def q_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF maintenance without retrain (operators/similarity.py::
    incremental_assign): the quantizer trains on the CORPUS slice only
    (vec_id % 10 != 0), then the NEW batch (every 10th vector) is
    assigned to those frozen centroids — refresh cost O(|new|), the
    corpus is never re-assigned in the incremental path (the old-side
    re-assignment below exists only because the gate has no stored
    index to read back). Output: per cell, old/new member counts,
    member-id checksum over the merged index, and the centroid
    checksum — a drifted centroid, a retrain that shouldn't have
    happened, or a misrouted new vector all change a row."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    newb = emb.filter(F.col("vec_id") % 10 == 0)
    # reuse the trainer's checkpointed quantized corpus frame for the
    # old-side re-assignment (r16; see q_ann_ivf_kmeans)
    cbase, cents = similarity.kmeans_fit(corpus, k=8, iters=3)
    a_old = similarity.assign_centroids(cbase, cents).withColumn(
        "is_new", F.lit(0)
    )
    a_new = similarity.incremental_assign(newb, cents).withColumn(
        "is_new", F.lit(1)
    )
    checksum = F.element_at(
        F.array(*[F.lit(int(sum(c))).cast("long") for c in cents]),
        F.col("cid") + 1,
    )
    return (
        a_old.select("vec_id", "cid", "is_new")
        .unionByName(a_new.select("vec_id", "cid", "is_new"))
        .groupBy("cid")
        .agg(
            F.sum(1 - F.col("is_new")).cast("long").alias("n_old"),
            F.sum("is_new").cast("long").alias("n_new"),
            F.sum("vec_id").alias("members_checksum"),
        )
        .withColumn("centroid_checksum", checksum)
    )


def _sql_ann_ivf_incremental(k: int = 8, iters: int = 3) -> str:
    dist = (
        "list_dot_product(q.qe, q.qe) - 2 * list_dot_product(q.qe, c.c)"
        " + list_dot_product(c.c, c.c)"
    )
    base = _sql_kmeans_ctes(k, iters, src="corpus").replace(
        "c0 AS (",
        "corpus AS (SELECT vec_id, qe FROM qe WHERE vec_id % 10 <> 0),\nc0 AS (",
        1,
    )
    return f"""{base},
newb AS (SELECT vec_id, qe FROM qe WHERE vec_id % 10 = 0),
anew AS (
  SELECT vec_id, cid FROM (
    SELECT q.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {dist}, c.cid) AS rn
    FROM newb q CROSS JOIN c{iters} c) WHERE rn = 1
),
merged AS (
  SELECT vec_id, cid, 0 AS is_new FROM afinal
  UNION ALL
  SELECT vec_id, cid, 1 AS is_new FROM anew
)
SELECT m.cid,
       CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
       CAST(SUM(is_new) AS BIGINT) AS n_new,
       CAST(SUM(vec_id) AS BIGINT) AS members_checksum,
       CAST(cc.s AS BIGINT) AS centroid_checksum
FROM merged m
JOIN (SELECT cid, list_sum(c) AS s FROM c{iters}) cc USING (cid)
GROUP BY m.cid, cc.s
"""


def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (LATERAL VIEW posexplode surface): tokens with
    their 0-based position, re-aggregated per doc to (n_tokens, weighted
    position checksum) so the gate hashes POSITION correctness, not just
    the multiset of tokens — an explode that loses or permutes ordinals
    mismatches. Generate (explode) is narrow: no shuffle until the
    per-doc re-aggregate."""
    from database_collector_spark.operators.text import tokens_col

    docs = _t(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokens_col()).alias("pos", "tok")
    )
    return pos.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("pos") * F.length("tok")).alias("pos_len_checksum"),
        F.max(F.when(F.col("pos") == 0, F.col("tok"))).alias("first_tok"),
    )


SQL_POSEXPLODE_TOKENS = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
p AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(pos * length(tok)) AS BIGINT) AS pos_len_checksum,
       MAX(CASE WHEN pos = 0 THEN tok END) AS first_tok
FROM p GROUP BY doc_id
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


QUERIES = {
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
    "ann_ivf_probe": q_ann_ivf_probe,
    "ann_ivf_multiprobe": q_ann_ivf_multiprobe,
    "ann_ivf_kmeans": q_ann_ivf_kmeans,
    "ann_ivf_incremental": q_ann_ivf_incremental,
    "posexplode_tokens": q_posexplode_tokens,
    "null_funcs": q_null_funcs,
    "map_funcs": q_map_funcs,
    "try_arith": q_try_arith,
}

ORACLES = {
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
    "ann_ivf_probe": _sql_ann_ivf(),
    "ann_ivf_multiprobe": _sql_ann_ivf_multiprobe(),
    "ann_ivf_kmeans": _sql_kmeans_ivf(),
    "ann_ivf_incremental": _sql_ann_ivf_incremental(),
    "posexplode_tokens": SQL_POSEXPLODE_TOKENS,
    "null_funcs": SQL_NULL_FUNCS,
    "map_funcs": SQL_MAP_FUNCS,
    "try_arith": SQL_TRY_ARITH,
}
