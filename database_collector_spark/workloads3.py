"""Workloads batch 3: analytic-surface completion + graph clustering.

Adds the remaining relational surfaces a reference user would expect from
a full engine (window frames/ranking, calendar functions, exact moment
statistics, non-equi range joins, explicit GROUPING SETS, array scalar
functions, TF-ranked terms), the skew-salting join template, and the
dedup-clustering path: connected components over near-dup pairs
(operators/graph.py) — pairs are what dedup.py emits, clusters are what a
training pipeline actually deletes by.

Determinism conventions as in workloads.py: integer-cents money, exact
integer moment sums (DECIMAL(38,0) where products can exceed int64),
window orders made total with key tie-breaks, doubles only as the final
cast+round, identical aliases on both sides of the gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_collector_spark.operators import dedup, graph
from database_collector_spark.workloads import _cents, _t
from database_collector_spark.workloads_ext import SQL_DEDUP_MINHASH_LSH

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
# non-equi range join (time-bucketed at scale)
# ---------------------------------------------------------------------------


def q_range_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window range join: per purchase event, clicks by any user
    in the preceding 2 minutes.

    A raw theta-join on ``c.ts BETWEEN p.ts - 2m AND p.ts`` is a nested
    loop at any scale; the distributed shape is time bucketing: both
    sides key by floor(ts / window), each probe checks exactly two
    buckets (its own and the previous — a 2-minute trailing window can
    only span them), so the physical plan is an EQUI-join on bucket id
    with the residual range filter on top — shuffle-partitionable like
    any other equi-join (same trick as the as-of join, workloads_ts).
    Left join + conditional count keeps zero-click purchases."""
    ev = _t(spark, sf_dir, "events")
    win = 120
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", F.col("ts").alias("p_ts"))
        .withColumn("b", F.floor(F.unix_timestamp("p_ts") / win))
        .withColumn("probe", F.explode(F.array(F.col("b"), F.col("b") - 1)))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("ts").alias("c_ts"))
        .withColumn("cb", F.floor(F.unix_timestamp("c_ts") / win))
    )
    hit = (
        (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts"))
    ).cast("long")
    return (
        purchases.join(clicks, purchases["probe"] == clicks["cb"], "left")
        .groupBy("event_id")
        .agg(F.coalesce(F.sum(hit), F.lit(0)).alias("n_clicks_2min"))
    )


SQL_RANGE_JOIN_BUCKETS = """
SELECT p.event_id,
       CAST(COALESCE(SUM(CASE WHEN c.ts >= p.ts - INTERVAL 2 MINUTE AND c.ts <= p.ts
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_clicks_2min
FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT ts FROM events WHERE event_type = 'click') c
  ON c.ts >= p.ts - INTERVAL 2 MINUTE AND c.ts <= p.ts
GROUP BY p.event_id
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
# term ranking (tf / rarity)
# ---------------------------------------------------------------------------


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document, ranked by term frequency
    with corpus rarity (document frequency ASC) then term as tie-breaks —
    the integer-exact form of tf-idf ranking (log(N/df) is monotone in
    1/df, so the rank order is identical and no float log enters the
    gate). Document frequency is computed over the WHOLE corpus, then
    only the reported slice of documents pays the per-doc ranking — the
    df table is groupBy-reduced before the join, so the join input is
    |vocabulary|, not |token stream|."""
    toks_all = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    )
    tf = (
        toks_all.filter(F.col("doc_id") < 300)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = (
        toks_all.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "rnk")
    )


SQL_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE doc_id < 300 GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term
),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rnk
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, term, tf, df, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 3
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


# ---------------------------------------------------------------------------
# dedup clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH
    verified pair graph, summarized per component (the component id is
    the canonical min doc_id — everything else in the cluster is
    deletable). Oracle: recursive transitive-closure CTE over the same
    pair SQL."""
    pairs = dedup.minhash_lsh_dedup(_t(spark, sf_dir, "documents"))
    return graph.cluster_summary(graph.connected_components(pairs))


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_MINHASH_LSH}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT u AS node, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v AS node, reach.r FROM reach JOIN edges e ON e.u = reach.node
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       -- head-capped listing mirrors cluster_summary's bounded contract
       array_to_string(list_sort(list(node))[1:64], ',') AS doc_ids,
       COUNT(*) > 64 AS roster_truncated
FROM comp
GROUP BY component
"""


_CM_TYPES = ("click", "error", "purchase", "signup", "view")


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation MATRIX across the five hourly
    event-type revenue series — the multi-metric dependence screen that
    turns one-pair `corr` (stats_moments) into the full upper triangle.

    Alignment is a single conditional-sum aggregate on the hour key
    (missing hours contribute 0 — series share one spine by
    construction, no join); all moment sums are exact DECIMAL(38,0)
    integers accumulated in ONE global aggregate whose shuffle carries
    1 row x 21 numbers however many hours exist; the 10 output pairs
    are an in-row explode of that single row. Correlations are computed
    from the exact sums with one rounded float step (stats_moments
    convention) — never the engines' order-sensitive float corr."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("event_type") == t, cents)), F.lit(0)
            ).alias(f"v_{t}")
            for t in _CM_TYPES
        ]
    )
    dec = "decimal(38,0)"
    aggs = [F.count("*").alias("n")]
    for t in _CM_TYPES:
        c = F.col(f"v_{t}").cast(dec)
        aggs.append(F.sum(c).alias(f"s_{t}"))
        aggs.append(F.sum(c * c).alias(f"ss_{t}"))
    for i, a in enumerate(_CM_TYPES):
        for b in _CM_TYPES[i + 1:]:
            aggs.append(
                F.sum(
                    F.col(f"v_{a}").cast(dec) * F.col(f"v_{b}").cast(dec)
                ).alias(f"sxy_{a}_{b}")
            )
    moments = hourly.agg(*aggs)
    n = F.col("n").cast(dec)
    pair_structs = []
    for i, a in enumerate(_CM_TYPES):
        for b in _CM_TYPES[i + 1:]:
            num = (n * F.col(f"sxy_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast(
                "double"
            )
            den_a = (n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast(
                "double"
            )
            den_b = (n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast(
                "double"
            )
            pair_structs.append(
                F.struct(
                    F.lit(a).alias("type_a"),
                    F.lit(b).alias("type_b"),
                    F.round(num / (F.sqrt(den_a) * F.sqrt(den_b)), 6).alias("corr"),
                )
            )
    return moments.select(
        F.col("n").cast("long").alias("n_hours"),
        F.explode(F.array(*pair_structs)).alias("p"),
    ).select("p.type_a", "p.type_b", "n_hours", "p.corr")


def _cm_sql() -> str:
    cond = ",\n         ".join(
        f"SUM(CASE WHEN event_type = '{t}' THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS v_{t}"
        for t in _CM_TYPES
    )
    moments = ["CAST(COUNT(*) AS HUGEINT) AS n"]
    for t in _CM_TYPES:
        moments.append(f"SUM(CAST(v_{t} AS HUGEINT)) AS s_{t}")
        moments.append(f"SUM(CAST(v_{t} AS HUGEINT) * v_{t}) AS ss_{t}")
    pairs = []
    for i, a in enumerate(_CM_TYPES):
        for b in _CM_TYPES[i + 1:]:
            moments.append(f"SUM(CAST(v_{a} AS HUGEINT) * v_{b}) AS sxy_{a}_{b}")
            pairs.append(
                f"SELECT '{a}' AS type_a, '{b}' AS type_b, CAST(n AS BIGINT) AS n_hours,\n"
                f"  ROUND(CAST(n * sxy_{a}_{b} - s_{a} * s_{b} AS DOUBLE)\n"
                f"    / (SQRT(CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE))\n"
                f"       * SQRT(CAST(n * ss_{b} - s_{b} * s_{b} AS DOUBLE))), 6) AS corr\n"
                f"  FROM m"
            )
    return (
        "WITH hourly AS (\n"
        f"  SELECT date_trunc('hour', ts) AS h,\n         {cond}\n"
        "  FROM events GROUP BY 1\n"
        "),\n"
        "m AS (\n  SELECT " + ",\n         ".join(moments) + "\n  FROM hourly\n)\n"
        + "\nUNION ALL ".join(pairs)
    )


SQL_CORR_MATRIX = _cm_sql()


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


def q_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed event counts per type with a one-week
    half-life — recency-weighted popularity, the metric behind trending
    lists. Dyadic exactness: weight = 2^(20 − age_weeks) as an INTEGER
    (age measured back from the stream's max timestamp; older than 20
    half-lives contributes 0), so the sum is bit-exact in any order and
    the gate hashes — no float pow drift. Stream end is a one-row
    broadcast (the ttl_expiry_counts precedent); everything else is one
    map-side expression into a per-type aggregate."""
    ev = _t(spark, sf_dir, "events")
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    end = ev.agg(F.max(epoch).alias("end_s"))
    age_w = F.floor((F.col("end_s") - epoch) / (7 * 86400)).cast("int")
    # 2^(20-age) as a finite CASE over the 21 in-range ages (shiftleft's
    # bit count must be a literal, not a column)
    weight = F.when(age_w == 0, F.lit(1 << 20).cast("long"))
    for k in range(1, 21):
        weight = weight.when(age_w == k, F.lit(1 << (20 - k)).cast("long"))
    weight = weight.otherwise(F.lit(0).cast("long"))
    return (
        ev.join(F.broadcast(end))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(weight).alias("decayed_scaled"),
        )
    )


SQL_DECAYED_COUNTS = """
WITH e AS (SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS end_s FROM events),
w AS (
  SELECT event_type,
         CASE WHEN CAST(floor((end_s - CAST(floor(epoch(ts)) AS BIGINT))
                              / 604800.0) AS INT) <= 20
              THEN CAST(1 AS BIGINT)
                   << (20 - CAST(floor((end_s - CAST(floor(epoch(ts)) AS BIGINT))
                                       / 604800.0) AS INT))
              ELSE 0 END AS wt
  FROM events, e
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(wt) AS BIGINT) AS decayed_scaled
FROM w GROUP BY event_type
"""


QUERIES = {
    "corr_matrix": q_corr_matrix,
    "weighted_median": q_weighted_median,
    "decayed_counts": q_decayed_counts,
    "window_frames": q_window_frames,
    "date_funcs": q_date_funcs,
    "stats_moments": q_stats_moments,
    "range_join_buckets": q_range_join_buckets,
    "grouping_sets": q_grouping_sets,
    "array_funcs": q_array_funcs,
    "tfidf_top_terms": q_tfidf_top_terms,
    "skew_salted_join": q_skew_salted_join,
    "dedup_clusters": q_dedup_clusters,
}

ORACLES = {
    "corr_matrix": SQL_CORR_MATRIX,
    "weighted_median": SQL_WEIGHTED_MEDIAN,
    "decayed_counts": SQL_DECAYED_COUNTS,
    "window_frames": SQL_WINDOW_FRAMES,
    "date_funcs": SQL_DATE_FUNCS,
    "stats_moments": SQL_STATS_MOMENTS,
    "range_join_buckets": SQL_RANGE_JOIN_BUCKETS,
    "grouping_sets": SQL_GROUPING_SETS,
    "array_funcs": SQL_ARRAY_FUNCS,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "skew_salted_join": SQL_SKEW_SALTED_JOIN,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
}
