"""Time-series, event and streaming gates.

Event windows and sessions, point-in-time and as-of joins, interval
coalescing and outages, counter rates, rollups and downsampling,
change-point and outlier detection, drift between event
distributions, and the streaming summaries (HyperLogLog registers,
Count-Min, KMV, bitmaps) with their exact twins
(``operators/timeseries.py``, ``operators/sketches.py``). Several gates
are the batch twins of the streaming operators in ``streaming/``.

Same determinism conventions as ``workloads.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_collector_spark.operators import sketches, timeseries
from database_collector_spark.workloads import _t, hv_sql
from database_collector_spark.workloads import artifact_dir as _artifact_dir


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


_CMS_PROBES = ["hash", "join", "vector", "scan", "merge", "the", "zz_absent"]


def q_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point estimates vs exact truth for a fixed probe
    set (operators/sketches.py::cms_point_estimates — depth 4 x width
    256, md5 hashing, so the SKETCH itself is deterministic and
    oracle-checkable, unlike HLL). no_undercount must be TRUE for every
    probe (the CMS one-sided error guarantee); an absent probe shows the
    pure collision overestimate."""
    docs = _t(spark, sf_dir, "documents")
    items = docs.select(
        F.explode(F.split("text", " ")).alias("item")
    ).where(F.col("item") != "")
    probes = spark.createDataFrame([(p,) for p in _CMS_PROBES], "item string")
    est = sketches.cms_point_estimates(items, probes)
    truth = (
        items.where(F.col("item").isin(_CMS_PROBES))
        .groupBy(F.col("item").alias("probe_item"))
        .agg(F.count("*").alias("true_count"))
    )
    return (
        est.join(truth, "probe_item", "left")
        .select(
            "probe_item",
            F.coalesce("true_count", F.lit(0)).alias("true_count"),
            "cms_estimate",
            (F.col("cms_estimate") >= F.coalesce("true_count", F.lit(0))).alias(
                "no_undercount"
            ),
        )
    )


_SQL_HEX8 = (
    "(SELECT SUM(CAST(strpos('0123456789abcdef', substr({h}, i, 1)) - 1 AS BIGINT)"
    " * (CAST(1 AS BIGINT) << (4 * (8 - i))))"
    " FROM (SELECT unnest(generate_series(1, 8)) AS i))"
)

SQL_CMS_ESTIMATES = f"""
WITH ft AS (
  SELECT item FROM (SELECT unnest(string_split(text, ' ')) AS item FROM documents)
  WHERE item <> ''
),
hashed AS (
  SELECT dd.d, ft.item,
         {_SQL_HEX8.format(h="md5(dd.d || ':' || ft.item)")} % 256 AS col
  FROM ft, (SELECT unnest(generate_series(0, 3)) AS d) dd
),
cells AS (SELECT d, col, COUNT(*) AS cnt FROM hashed GROUP BY 1, 2),
probes(item) AS (VALUES {", ".join(f"('{p}')" for p in _CMS_PROBES)}),
probe_cells AS (
  SELECT p.item, dd.d,
         {_SQL_HEX8.format(h="md5(dd.d || ':' || p.item)")} % 256 AS col
  FROM probes p, (SELECT unnest(generate_series(0, 3)) AS d) dd
),
est AS (
  SELECT pc.item AS probe_item, MIN(COALESCE(c.cnt, 0)) AS cms_estimate
  FROM probe_cells pc LEFT JOIN cells c ON c.d = pc.d AND c.col = pc.col
  GROUP BY 1
),
truth AS (
  SELECT item AS probe_item, COUNT(*) AS true_count FROM ft
  WHERE item IN (SELECT item FROM probes) GROUP BY 1
)
SELECT e.probe_item,
       CAST(COALESCE(t.true_count, 0) AS BIGINT) AS true_count,
       CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
       e.cms_estimate >= COALESCE(t.true_count, 0) AS no_undercount
FROM est e LEFT JOIN truth t USING (probe_item)
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window grouped counts — the batch twin of the streaming
    windowed_counts operator (SURVEY §2.10): per (hour, event_type) count
    and exact cents-sum of value."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100).alias(
                "sum_value"
            ),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100 AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window grouped counts (1 h window, 15 min hop) — the batch
    twin of a hopping streaming aggregation (`F.window` with a slide works
    identically under readStream + watermark; events_hourly covers the
    tumbling case). Spark expands each row into window/hop = 4 epoch-
    aligned windows via a Generate, then one partial-agg shuffle on
    (window, type) — the oracle reproduces the expansion with a 4-hop
    generate_series. Cost at 100 TB = 4x the tumbling row volume into a
    partial aggregate, the unavoidable hop factor."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )


SQL_EVENTS_SLIDING = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events
)
SELECT make_timestamp(((s // 900) * 900 - j.j * 900) * 1000000) AS win_start,
       event_type, COUNT(*) AS n
FROM e, (SELECT unnest(generate_series(0, 3)) AS j) j
GROUP BY 1, 2
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) per user — the batch
    analog of a session window, built from lag + cumulative sum. Two
    window passes over one (user, ts) sort; the aggregation reuses the
    same partitioning (no extra shuffle)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = ev.withColumn(
        "new_session",
        F.when(
            # epoch seconds via LTZ: NTZ->LTZ reads the naive value in the
            # session tz (UTC), and LTZ->long is legal where NTZ->long isn't
            F.col("ts").cast("timestamp_ltz").cast("long")
            - F.lag(F.col("ts").cast("timestamp_ltz").cast("long")).over(w)
            > 1800,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    ).withColumn(
        "first_in_user",
        F.when(F.lag("ts").over(w).isNull(), F.lit(1)).otherwise(F.lit(0)),
    )
    sessioned = with_gap.withColumn(
        "session_seq",
        F.sum(F.col("new_session") + F.col("first_in_user")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessioned.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


SQL_SESSIONIZATION = """
WITH g AS (
  SELECT user_id, event_id, ts,
         -- floor(epoch(..)) matches Spark's cast-to-long truncation exactly
         -- even for sub-second timestamps straddling the 1800 s boundary
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END
           + CASE WHEN LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS inc
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(inc) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM s GROUP BY 1, 2
"""


def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup reuse: monthly totals computed FROM the daily
    aggregate, which is computed FROM the hourly aggregate — the
    materialized-rollup maintenance path (hour→day→month), never a
    re-scan per level. The oracle aggregates monthly straight from raw
    events, so the gate pins the algebraic mergeability claim (counts
    and integer cent sums re-aggregate losslessly; this is why the
    incremental tier can maintain coarse rollups from fine ones).

    Plan: the raw scan feeds ONE hour-keyed aggregate; each coarser
    level re-aggregates the previous level's (tiny) output — at 100 TB
    the day and month levels cost |hours| and |days| rows, not another
    corpus pass."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum(cents).alias("cents"))
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("h")).alias("d"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    return daily.groupBy(
        F.date_trunc("month", F.col("d")).alias("month"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))


SQL_ROLLUP_CASCADE = """
SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY 1, 2
"""


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: frequency of the first-3-event-type journey
    per 30-minute session — the "what do users do first" product
    analytics on top of sessionization. Session ids use the exact
    sessionization gate definition; the path is an in-agg sorted slice
    (no per-step self-joins — the same one-exchange-per-level shape as
    the funnel), then one path-keyed count whose cardinality is bounded
    by |event types|^3."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    inc = (
        F.when(epoch - F.lag(epoch).over(w) > 1800, F.lit(1)).otherwise(F.lit(0))
        + F.when(F.lag("ts").over(w).isNull(), F.lit(1)).otherwise(F.lit(0))
    )
    sess = ev.withColumn(
        "session_seq",
        F.sum(inc).over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    paths = sess.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    1,
                    3,
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count("*").alias("n_sessions"))


SQL_SESSION_PATHS = """
WITH g AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END
           + CASE WHEN LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS inc
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(SUM(inc) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_seq
  FROM g
),
p AS (
  SELECT user_id, session_seq,
         array_to_string(
           list(event_type ORDER BY ts, event_id)[1:3], '>') AS path
  FROM s GROUP BY 1, 2
)
SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each 'error' event aligned to the latest preceding
    'click' by the same user (metric-series alignment, SURVEY §2.3 note).

    Spark lacks a native ASOF JOIN; the scalable formulation is
    union + single window sort (one shuffle on user_id), NOT a range join:
    interleave clicks and errors in time order, carry the last click
    timestamp forward, keep error rows. Ties (click.ts == error.ts) order
    the click first, i.e. <= semantics.
    """
    from database_collector_spark.operators.timeseries import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    return asof_join(errors, clicks, on="ts", by=("user_id",)).select(
        F.col("event_id").alias("error_event_id"),
        "user_id",
        F.col("ts").alias("error_ts"),
        F.col("ts_right").alias("last_click_ts"),
    )


SQL_ASOF_JOIN = """
SELECT e.event_id AS error_event_id, e.user_id, e.ts AS error_ts,
       (SELECT MAX(c.ts) FROM events c
        WHERE c.event_type = 'click' AND c.user_id = e.user_id AND c.ts <= e.ts)
         AS last_click_ts
FROM events e WHERE e.event_type = 'error'
"""


def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD-2 lookup: each 'click' joined to the purchase-
    history VERSION valid at click time. The dimension is built from
    'purchase' events — each purchase opens a version (attr = the cents
    amount) valid until the user's next purchase (half-open intervals,
    last one open-ended). Clicks before a user's first purchase report
    NULLs — the gap semantics that distinguish PIT from as-of.

    Plan: the version build is one user-keyed window (lead); the lookup
    is an EQUI-join on user_id with the interval test as residual —
    versions per user are few, so per-key candidate cost stays bounded
    at any corpus size.
    """
    from database_collector_spark.operators.timeseries import pit_join

    ev = _t(spark, sf_dir, "events")
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("attr_cents"),
        )
        .withColumn("valid_to", F.lead("valid_from").over(
            Window.partitionBy("user_id").orderBy("valid_from", "event_id")
        ))
        .drop("event_id")
    )
    facts = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return pit_join(
        facts,
        dim,
        keys=("user_id",),
        ts_col="ts",
        value_cols=("attr_cents",),
    ).select("event_id", "user_id", "ts", "valid_from", "attr_cents")


SQL_PIT_JOIN = """
WITH dim AS (
  SELECT user_id, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
         CAST(ROUND(value*100) AS BIGINT) AS attr_cents
  FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.ts, d.valid_from, d.attr_cents
FROM events f LEFT JOIN dim d
  ON f.user_id = d.user_id AND f.ts >= d.valid_from
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
WHERE f.event_type = 'click'
"""


def q_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval union: each event opens an interval of
    `value` seconds; overlapping/touching intervals per user merge into
    maximal disjoint islands (`operators/timeseries.py::
    coalesce_intervals` — linear window sweep, never an interval
    self-join). Bounds stay exact epoch-microsecond longs end-to-end."""
    from database_collector_spark.operators.timeseries import coalesce_intervals

    ev = _t(spark, sf_dir, "events")
    tus = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    iv = ev.select(
        "user_id",
        tus.alias("start"),
        (tus + F.round(F.col("value") * 1_000_000).cast("long")).alias("end"),
    )
    out = coalesce_intervals(iv, by=("user_id",))
    return out.select(
        "user_id",
        "island",
        F.col("start").alias("start_us"),
        F.col("end").alias("end_us"),
        "n_intervals",
        (F.col("end") - F.col("start")).alias("span_us"),
    )


SQL_INTERVAL_COALESCE = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(ROUND(value * 1000000) AS BIGINT) AS e
  FROM events
),
x AS (
  SELECT user_id, s, e,
         CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM iv
),
y AS (
  SELECT user_id, s, e,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM x
)
SELECT user_id, CAST(isl AS BIGINT) AS island,
       MIN(s) AS start_us, MAX(e) AS end_us,
       COUNT(*) AS n_intervals,
       MAX(e) - MIN(s) AS span_us
FROM y GROUP BY user_id, isl
"""


def q_prorate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendarized revenue: each event opens a [ts, ts + value seconds)
    interval worth `value` cents; the amount prorates across covered UTC
    days proportional to overlap (`operators/timeseries.py::
    prorate_daily` — map-side day explode, no join), then rolls up per
    day. All shares are exact floor-div micro-cents."""
    from database_collector_spark.operators.timeseries import prorate_daily

    ev = _t(spark, sf_dir, "events")
    tus = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    iv = ev.select(
        "event_id",
        tus.alias("start_us"),
        (tus + F.round(F.col("value") * 1_000_000).cast("long")).alias("end_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        prorate_daily(iv, id_cols=("event_id",))
        .groupBy("day_idx")
        .agg(
            F.count("*").alias("n_slices"),
            F.sum("overlap_us").alias("covered_us"),
            F.sum("share_micro").alias("micro_cents"),
        )
    )


SQL_PRORATE_DAILY = """
WITH iv AS (
  SELECT event_id, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(ROUND(value * 1000000) AS BIGINT) AS e,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
x AS (
  SELECT event_id, s, e, cents,
         unnest(range(s // 86400000000, (e - 1) // 86400000000 + 1)) AS d
  FROM iv WHERE e > s
),
y AS (
  SELECT d,
         LEAST(e, (d + 1) * 86400000000) - GREATEST(s, d * 86400000000) AS ov,
         cents, e - s AS tot
  FROM x
)
SELECT CAST(d AS BIGINT) AS day_idx,
       COUNT(*) AS n_slices,
       CAST(SUM(ov) AS BIGINT) AS covered_us,
       CAST(SUM((CAST(cents AS HUGEINT) * 1000000 * ov) // tot) AS BIGINT)
         AS micro_cents
FROM y GROUP BY d
"""


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trapezoidal time-weighted average of `value` per event_type over
    the irregular event stream — the statistic a plain AVG gets wrong
    when sampling intervals vary (TimescaleDB time_weight shape).
    Integer-exact numerator/denominator (cents x epoch-microseconds);
    the final twa is one correctly-rounded int64→double divide."""
    from database_collector_spark.operators.timeseries import time_weighted_avg

    ev = _t(spark, sf_dir, "events")
    return time_weighted_avg(
        ev,
        by=("event_type",),
        on="ts",
        value_col="value",
        scale=100,
        tiebreak=("event_id",),
    )


SQL_TIME_WEIGHTED_AVG = """
WITH s AS (
  SELECT event_type,
         CAST(ROUND(value*100) AS BIGINT) AS cv,
         epoch_us(ts) AS tus,
         LEAD(CAST(ROUND(value*100) AS BIGINT)) OVER w AS cv2,
         LEAD(epoch_us(ts)) OVER w AS tus2
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
)
SELECT event_type, COUNT(*) AS n_points,
       CAST(SUM((cv + cv2) * (tus2 - tus)) AS BIGINT) AS twa_numer,
       CAST(2 * SUM(tus2 - tus) AS BIGINT) AS twa_denom,
       CASE WHEN 2 * SUM(tus2 - tus) > 0 THEN
         CAST(SUM((cv + cv2) * (tus2 - tus)) AS DOUBLE)
           / CAST(2 * SUM(tus2 - tus) AS DOUBLE) / 100
       END AS twa
FROM s GROUP BY event_type
"""


def q_histogram_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correct-mode histogram construction (SURVEY §2.6): cumulative
    bucket counts with explicit le edges incl. +Inf, plus _sum/_count —
    the expansion the reference loses by flattening (prometheus.go:101-107).

    Bucketing = one pass assigning each row its smallest edge, then a
    cumulative window over the tiny (group x edge) aggregate — never an
    edges x rows blow-up.
    """
    li = _t(spark, sf_dir, "lineitem")
    edges = [10.0, 20.0, 30.0, 40.0, 50.0]
    first_edge = F.coalesce(
        *[
            F.when(F.col("l_quantity") <= F.lit(e), F.lit(e))
            for e in edges
        ],
        F.lit(float("inf")),
    )
    per_edge = (
        li.withColumn("le", first_edge)
        .groupBy("l_returnflag", "le")
        .agg(
            F.count("*").alias("bucket_n"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty_cents"),
        )
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("le")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_edge.select(
        "l_returnflag",
        F.when(F.col("le") == float("inf"), F.lit("+Inf"))
        .otherwise(F.col("le").cast("string"))
        .alias("le"),
        F.sum("bucket_n").over(w).alias("cumulative_count"),
        (F.sum("qty_cents").over(w).cast("double") / 100).alias("running_sum"),
    )


SQL_HISTOGRAM_METRICS = """
WITH per_edge AS (
  SELECT l_returnflag,
         COALESCE(CASE WHEN l_quantity <= 10 THEN 10.0 END,
                  CASE WHEN l_quantity <= 20 THEN 20.0 END,
                  CASE WHEN l_quantity <= 30 THEN 30.0 END,
                  CASE WHEN l_quantity <= 40 THEN 40.0 END,
                  CASE WHEN l_quantity <= 50 THEN 50.0 END,
                  CAST('inf' AS DOUBLE)) AS le,
         COUNT(*) AS bucket_n,
         SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS qty_cents
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag,
       CASE WHEN le = CAST('inf' AS DOUBLE) THEN '+Inf' ELSE CAST(le AS VARCHAR) END AS le,
       CAST(SUM(bucket_n) OVER w AS BIGINT) AS cumulative_count,
       CAST(CAST(SUM(qty_cents) OVER w AS BIGINT) AS DOUBLE)/100 AS running_sum
FROM per_edge
WINDOW w AS (PARTITION BY l_returnflag ORDER BY le
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_kv_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-list pivot to wide form (the SHOW SLAVE STATUS shape,
    SURVEY §1.3 / FIXTURES F3): per user-cohort, one column per event
    type. The pivot list is pinned — no distinct-values pre-scan."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.withColumn("cohort", (F.col("user_id") % 10).cast("long"))
        .groupBy("cohort")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


SQL_KV_PIVOT_WIDE = """
SELECT user_id % 10 AS cohort,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'click'), 0) AS click,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'view'), 0) AS view,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'purchase'), 0) AS purchase,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'signup'), 0) AS signup,
       COALESCE(COUNT(*) FILTER (WHERE event_type = 'error'), 0) AS error
FROM events GROUP BY 1
"""


def q_json_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic JSON -> typed struct with NULL-not-panic semantics
    (SURVEY §1.2: the reference's unchecked type assertions become
    explicit nullable fields; F3 scalar surface)."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "j", F.from_json(F.col("props"), "k INT, missing_field STRING")
    )
    return parsed.select(
        "event_id",
        F.col("j.k").alias("k"),
        F.col("j.missing_field").alias("missing_field"),
        F.col("j.k").isNotNull().alias("has_k"),
    )


SQL_JSON_STRUCT_PARSE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       json_extract_string(props, '$.missing_field') AS missing_field,
       json_extract_string(props, '$.k') IS NOT NULL AS has_k
FROM events
"""


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets aggregation (SURVEY §2.5 A5: free in Spark,
    absent in the reference). grouping() flags disambiguate NULL keys."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


SQL_ROLLUP_COUNTS = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx-count-distinct per event_type (sketch surface), emitted
    as a *bounded-error verdict* so the gate can hash it cross-engine:
    HLL sketch values differ between engines by design, but Spark's HLL++
    seed is fixed, so "approx within 5% of exact" is deterministic — the
    output carries the exact count plus that boolean, and the DuckDB
    oracle computes the exact side with a literal TRUE verdict. A false
    row on the Spark side hash-mismatches, which is precisely the failure
    we want the gate to catch (default rsd=0.05 => ~5% relative error)."""
    ev = _t(spark, sf_dir, "events")
    # rsd=0.02 (HLL++ precision ~4k registers): measured within 5% of
    # exact on every fixture SF (the default rsd=0.05 sketch drifts past
    # 5% at sf0.1's ~1500-distinct groups — one sigma is not a bound)
    approx = F.approx_count_distinct("user_id", rsd=0.02).cast("double")
    exact = F.countDistinct("user_id")
    return ev.groupBy("event_type").agg(
        exact.alias("exact_users"),
        (F.abs(approx - exact.cast("double")) <= 0.05 * exact.cast("double")).alias(
            "within_5pct"
        ),
    )


SQL_APPROX_DISTINCT = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events GROUP BY event_type
"""


def q_ttl_expiry_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful streaming TTL counter
    (streaming/stateful.py::running_counts_with_ttl): per-user running
    total + whether the key's eviction tombstone would have fired by
    end-of-stream (final watermark passed last-seen + 1h). Pins the
    eviction *semantics* with a SQL oracle — the streaming tier itself
    can only be test-pinned. Keyed by user_id so the fixture exercises
    both outcomes (users going quiet an hour before stream end expire)."""
    from database_collector_spark.streaming.stateful import ttl_final_state

    ev = _t(spark, sf_dir, "events")
    return ttl_final_state(ev, key_col="user_id", ts_col="ts", ttl_s=3600)


SQL_TTL_EXPIRY_COUNTS = """
WITH per AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS rds_events_total,
         MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_seen_s
  FROM events GROUP BY user_id
), g AS (
  SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS stream_end_s FROM events
)
SELECT user_id, rds_events_total, last_seen_s,
       (stream_end_s - last_seen_s > 3600) AS expired
FROM per, g
"""


def q_summary_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary-metric flatten (SURVEY §2.5 A3): the Prometheus SUMMARY
    expansion `name{quantile=q}` + `name_sum` + `name_count` that
    operators/enrich.py:169-190 performs on METRIC_SAMPLE rows, as an
    oracle-checkable batch query.

    Quantiles restricted to dyadic points over integer cents (the
    exact_percentiles convention) so both engines agree bit-for-bit;
    output is the long row-per-series shape of the remote-write sink.
    """
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    agg = li.groupBy("l_returnflag").agg(
        (F.percentile(cents, F.lit(0.5)) / 100).alias("q50"),
        (F.percentile(cents, F.lit(0.75)) / 100).alias("q75"),
        (F.sum(cents).cast("double") / 100).alias("s"),
        F.count("*").cast("double").alias("c"),
    )

    def series(name: str, quantile: str | None, value: str) -> DataFrame:
        return agg.select(
            "l_returnflag",
            F.lit(name).alias("series_name"),
            F.lit(quantile).cast("string").alias("quantile"),
            F.col(value).alias("value"),
        )

    return (
        series("price", "0.5", "q50")
        .unionByName(series("price", "0.75", "q75"))
        .unionByName(series("price_sum", None, "s"))
        .unionByName(series("price_count", None, "c"))
    )


SQL_SUMMARY_QUANTILES = """
WITH agg AS (
  SELECT l_returnflag,
         quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.5)/100 AS q50,
         quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.75)/100 AS q75,
         CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100 AS s,
         CAST(COUNT(*) AS DOUBLE) AS c
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'price' AS series_name, '0.5' AS quantile, q50 AS value FROM agg
UNION ALL
SELECT l_returnflag, 'price' AS series_name, '0.75' AS quantile, q75 AS value FROM agg
UNION ALL
SELECT l_returnflag, 'price_sum' AS series_name, NULL AS quantile, s AS value FROM agg
UNION ALL
SELECT l_returnflag, 'price_count' AS series_name, NULL AS quantile, c AS value FROM agg
"""


def q_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric ±30 min events-to-events interval join: per purchase,
    clicks by the SAME user within [p_ts - 30m, p_ts + 30m] — the batch
    twin of streaming.ops.stream_stream_symmetric_join (same semantics,
    range-bucketed equi-join instead of watermark-bounded buffers).

    A theta-join on |c_ts - p_ts| <= 30m is a nested loop at any scale;
    bucketing both sides by floor(ts/1800) makes a ±30 min window span at
    most the probe's own bucket ±1, so each purchase explodes exactly 3
    probe buckets and the physical join is an EQUI-join on
    (user_id, bucket) with the residual range filter on top — shuffle-
    partitionable, and the 3x probe fan-out is the entire overhead.
    Left join + conditional count keeps zero-click purchases."""
    ev = _t(spark, sf_dir, "events")
    win = 1800
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.col("ts").alias("p_ts"))
        .withColumn("b", F.floor(F.unix_timestamp("p_ts") / win))
        .withColumn(
            "probe", F.explode(F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1))
        )
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withColumn("cb", F.floor(F.unix_timestamp("c_ts") / win))
    )
    hit = (
        (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTES"))
    ).cast("long")
    return (
        purchases.join(
            clicks,
            (purchases["probe"] == clicks["cb"])
            & (purchases["user_id"] == clicks["c_user"]),
            "left",
        )
        .groupBy("event_id")
        .agg(F.coalesce(F.sum(hit), F.lit(0)).alias("n_clicks_30m"))
    )


SQL_INTERVAL_JOIN_EVENTS = """
SELECT p.event_id,
       CAST(COALESCE(SUM(CASE WHEN c.ts >= p.ts - INTERVAL 30 MINUTE
                               AND c.ts <= p.ts + INTERVAL 30 MINUTE
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_clicks_30m
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts + INTERVAL 30 MINUTE
GROUP BY p.event_id
"""


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis over the event stream: per user, how deep
    into view -> click -> purchase they progressed, where each step must
    occur strictly AFTER the earliest occurrence of the previous step and
    within a 24 h conversion horizon of it (the horizon is what makes the
    funnel a funnel — without it every active user trivially completes);
    output = users per deepest step.

    Shape: ONE shuffle on user_id with conditional min-aggregations —
    step 1 anchor = min(view ts); step 2 = min(click ts > anchor1);
    step 3 = min(purchase ts > anchor2). The step-2/3 conditions need the
    previous anchor, which a plain agg can't reference — so the funnel is
    a two-level conditional aggregate: first collect per-user ordered
    step timestamps via min-over-filter on the SAME groupBy (computed as
    structs in one pass), then compare. At 100 TB this stays one
    user-keyed exchange; no self-joins, no windows over the full stream.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = F.col("ts").cast("timestamp_ltz").cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", s)).alias("t1"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "click", s))
        ).alias("clicks"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "purchase", s))
        ).alias("purchases"),
    )
    # earliest in-horizon click strictly after t1; earliest in-horizon
    # purchase strictly after that click — array_min over a filtered
    # sorted array (per-row expression on the already-aggregated frame,
    # no second shuffle)
    h = 86400
    t2 = F.array_min(
        F.filter("clicks", lambda c: (c > F.col("t1")) & (c <= F.col("t1") + h))
    )
    stepped = per_user.withColumn("t2", t2).withColumn(
        "t3",
        F.array_min(
            F.filter(
                "purchases",
                lambda p: (p > F.col("t2")) & (p <= F.col("t2") + h),
            )
        ),
    )
    depth = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        stepped.select(depth.cast("int").alias("funnel_depth"))
        .groupBy("funnel_depth")
        .agg(F.count("*").alias("n_users"))
    )


SQL_FUNNEL_STEPS = """
WITH e AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events
),
u AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN s END) AS t1
  FROM e GROUP BY user_id
),
u2 AS (
  SELECT u.user_id, u.t1,
         MIN(CASE WHEN e.event_type = 'click' AND e.s > u.t1
                   AND e.s <= u.t1 + 86400 THEN e.s END) AS t2
  FROM u LEFT JOIN e ON e.user_id = u.user_id
  GROUP BY u.user_id, u.t1
),
u3 AS (
  SELECT u2.user_id, u2.t1, u2.t2,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.s > u2.t2
                   AND e.s <= u2.t2 + 86400 THEN e.s END) AS t3
  FROM u2 LEFT JOIN e ON e.user_id = u2.user_id
  GROUP BY u2.user_id, u2.t1, u2.t2
)
SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3
            WHEN t2 IS NOT NULL THEN 2
            WHEN t1 IS NOT NULL THEN 1
            ELSE 0 END AS INT) AS funnel_depth,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM u3 GROUP BY 1
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-activity
    day (cohort), counted by how many distinct day-offsets later they
    returned — the canonical engagement query.

    Shape: per-user first day is one user-keyed aggregate; the (cohort,
    offset) matrix is a second aggregate over (user, day) distinct
    activity — both shuffles shrink the data (users, then cohort x
    offset). The first-day frame re-joins the activity by user_id; at
    100 TB that join is a shuffle join on the SAME user key the
    first aggregate produced (co-partitioned, no extra exchange under
    AQE) — never a window over the raw stream."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first_day = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        ev.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
    )


SQL_RETENTION_COHORTS = """
WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
fd AS (SELECT user_id, MIN(d) AS cohort_day FROM act GROUP BY user_id)
SELECT fd.cohort_day,
       CAST(date_diff('day', fd.cohort_day, a.d) AS INT) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM act a JOIN fd ON a.user_id = fd.user_id
GROUP BY 1, 2
"""


def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style ``rate()`` with counter-reset correction — THE
    canonical consumer-side operation for the counter series this
    collector ships (prometheus.go emits monotonic counters; any decrease
    means the process restarted and the counter restarted from ~0).

    Per series (user_id), order samples by time: each step's increase is
    ``cur - prev``, except after a reset (cur < prev) where the whole
    ``cur`` value counts (PromQL's extrapolation-free reset rule).
    rate = total increase / observed span. One lag window + one aggregate
    on the SAME user_id partitioning — a single shuffle at any scale.
    Money-grade determinism: increases accumulate in integer cents; the
    final division is one double round."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    s = F.col("ts").cast("timestamp_ltz").cast("long")
    stepped = ev.select(
        "user_id",
        s.alias("s"),
        cents.alias("v"),
        F.lag(cents).over(w).alias("prev_v"),
    )
    inc = F.when(F.col("prev_v").isNull(), F.lit(0)).otherwise(
        F.when(F.col("v") < F.col("prev_v"), F.col("v")).otherwise(
            F.col("v") - F.col("prev_v")
        )
    )
    reset = (
        F.col("prev_v").isNotNull() & (F.col("v") < F.col("prev_v"))
    ).cast("long")
    return (
        stepped.groupBy("user_id")
        .agg(
            F.sum(inc).alias("inc_cents"),
            F.sum(reset).alias("n_resets"),
            (F.max("s") - F.min("s")).alias("span_s"),
        )
        .filter(F.col("span_s") > 0)
        .select(
            "user_id",
            "n_resets",
            F.round(
                F.col("inc_cents").cast("double")
                / 100.0
                / F.col("span_s").cast("double"),
                8,
            ).alias("rate_per_s"),
        )
    )


SQL_COUNTER_RATE = """
WITH s AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(ROUND(value * 100) AS BIGINT) AS v,
         LAG(CAST(ROUND(value * 100) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v
  FROM events
),
a AS (
  SELECT user_id,
         SUM(CASE WHEN prev_v IS NULL THEN 0
                  WHEN v < prev_v THEN v ELSE v - prev_v END) AS inc_cents,
         CAST(SUM(CASE WHEN prev_v IS NOT NULL AND v < prev_v THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
         MAX(s) - MIN(s) AS span_s
  FROM s GROUP BY user_id
)
SELECT user_id, n_resets,
       round(CAST(inc_cents AS DOUBLE) / 100.0 / CAST(span_s AS DOUBLE), 8) AS rate_per_s
FROM a WHERE span_s > 0
"""


def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on metric series: per user,
    flag samples deviating from the trailing-10-sample mean by more than
    2 trailing standard deviations; emit per-user anomaly counts.

    The flag is decided in EXACT integer arithmetic — with trailing sums
    s1 = Σv, s2 = Σv², n over the preceding frame (integer cents),
    |v - s1/n| > 2σ  ⟺  (n·v - s1)² > 4·(n·s2 - s1²) — so no
    float-boundary sample can classify differently across engines (the
    decile_stats/exact-moments convention applied to a rolling frame).
    One user-keyed sort carries both rolling sums and the aggregate."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    stat = ev.select(
        "user_id",
        cents.alias("v"),
        F.count("*").over(w).alias("n"),
        F.sum(cents).over(w).alias("s1"),
        F.sum(cents * cents).over(w).alias("s2"),
    )
    # `** 2` would compile to POWER (double) and round past 2^53; keep
    # the square in decimal(38,0) so the boundary compare stays exact,
    # mirroring the oracle's DECIMAL multiplication.
    d = (F.col("n") * F.col("v") - F.col("s1")).cast("decimal(38,0)")
    rhs = 4 * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
    anomaly = F.when(
        (F.col("n") >= 5) & (d * d > rhs.cast("decimal(38,0)")),
        1,
    ).otherwise(0)
    return stat.groupBy("user_id").agg(
        F.count("*").alias("n_samples"),
        F.sum(anomaly).cast("long").alias("n_anomalies"),
    )


SQL_ROLLING_ZSCORE = """
WITH s AS (
  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS v,
         COUNT(*)  OVER w AS n,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS s1,
         SUM(CAST(ROUND(value * 100) AS BIGINT) * CAST(ROUND(value * 100) AS BIGINT)) OVER w AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(CASE WHEN n >= 5
                      AND CAST((n*v - s1) AS DECIMAL(38,0)) * CAST((n*v - s1) AS DECIMAL(38,0))
                        > CAST(4*(n*s2 - s1*s1) AS DECIMAL(38,0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM s GROUP BY user_id
"""


def q_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``histogram_quantile(0.9, ...)`` — the canonical consumer
    of the cumulative-bucket output this engine's histogram expansion
    produces (q_histogram_metrics): per group, find the bucket where the
    cumulative count crosses q*total and linearly interpolate within it
    (Prometheus's exact formula: lo + (target-prev_cum)/bucket_n *
    (hi-lo), lower bound 0 for the first bucket; a crossing in the +Inf
    bucket returns the highest finite edge).

    Determinism: bucket SELECTION is exact integer arithmetic
    (cum*10 >= 9*total — no float boundary), and the interpolation runs
    the same IEEE double ops from the same integers on both engines.
    Plan: one bucket-assignment pass + per-group cumulative window over
    the tiny (group x edge) aggregate — same cost shape as the histogram
    itself."""
    li = _t(spark, sf_dir, "lineitem")
    edges = [10.0, 20.0, 30.0, 40.0, 50.0]
    first_edge = F.coalesce(
        *[F.when(F.col("l_quantity") <= F.lit(e), F.lit(e)) for e in edges],
        F.lit(float("inf")),
    )
    per_edge = (
        li.withColumn("le", first_edge)
        .groupBy("l_returnflag", "le")
        .agg(F.count("*").alias("bucket_n"))
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("le")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("l_returnflag")
    cum = per_edge.select(
        "l_returnflag",
        "le",
        "bucket_n",
        F.sum("bucket_n").over(w).alias("cum_n"),
        F.sum("bucket_n").over(wg).alias("total"),
        F.lag("le").over(Window.partitionBy("l_returnflag").orderBy("le")).alias(
            "prev_le"
        ),
    )
    crossing = cum.filter(
        (F.col("cum_n") * 10 >= 9 * F.col("total"))
        & (
            (F.col("cum_n") - F.col("bucket_n")) * 10 < 9 * F.col("total")
        )
    )
    q90 = F.when(F.col("le") == float("inf"), F.lit(edges[-1])).otherwise(
        F.coalesce(F.col("prev_le"), F.lit(0.0))
        + (
            (F.col("total").cast("double") * 0.9
             - (F.col("cum_n") - F.col("bucket_n")).cast("double"))
            / F.col("bucket_n").cast("double")
        )
        * (F.col("le") - F.coalesce(F.col("prev_le"), F.lit(0.0)))
    )
    return crossing.select(
        "l_returnflag", F.round(q90, 6).alias("q90"), F.col("total").alias("n")
    )


SQL_HISTOGRAM_QUANTILE = """
WITH b AS (
  SELECT l_returnflag,
         CASE WHEN l_quantity <= 10 THEN 10.0 WHEN l_quantity <= 20 THEN 20.0
              WHEN l_quantity <= 30 THEN 30.0 WHEN l_quantity <= 40 THEN 40.0
              WHEN l_quantity <= 50 THEN 50.0 ELSE 1e308 END AS le
  FROM lineitem
),
pe AS (SELECT l_returnflag, le, COUNT(*) AS bucket_n FROM b GROUP BY 1, 2),
c AS (
  SELECT l_returnflag, le, bucket_n,
         SUM(bucket_n) OVER (PARTITION BY l_returnflag ORDER BY le
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         SUM(bucket_n) OVER (PARTITION BY l_returnflag) AS total,
         LAG(le) OVER (PARTITION BY l_returnflag ORDER BY le) AS prev_le
  FROM pe
)
SELECT l_returnflag,
       round(CASE WHEN le >= 1e308 THEN 50.0
             ELSE COALESCE(prev_le, 0.0)
                  + ((CAST(total AS DOUBLE) * 0.9 - CAST(cum_n - bucket_n AS DOUBLE))
                     / CAST(bucket_n AS DOUBLE))
                    * (le - COALESCE(prev_le, 0.0)) END, 6) AS q90,
       CAST(total AS BIGINT) AS n
FROM c
WHERE cum_n * 10 >= 9 * total AND (cum_n - bucket_n) * 10 < 9 * total
"""


def q_dense_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: a COMPLETE (event_type, hour) spine
    across the stream's global span, with missing hours zero-filled
    (counts) and carried-forward (LOCF) for the last observed hourly
    cents-sum — the dashboard/PromQL gap-filling semantics a raw GROUP
    BY can't produce (absent groups simply don't exist).

    Plan: the observed hourly aggregate is one shuffle; the spine is
    generated JVM-side (distinct types x sequence(min_h, max_h, 1h) —
    never a driver loop), left-joined back, and LOCF is the struct-max
    trick: max over (hour-if-present, value) in a cumulative window is
    exactly last-non-null, in pure lexicographic-orderable expressions
    both engines share (no IGNORE NULLS dialect dependence)."""
    ev = _t(spark, sf_dir, "events")
    hour = (F.floor(F.col("ts").cast("timestamp_ltz").cast("long") / 3600) * 3600)
    hourly = ev.groupBy(
        "event_type", hour.alias("h")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    bounds = ev.agg(
        F.min(hour).alias("h_lo"), F.max(hour).alias("h_hi")
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("h_lo"), F.col("h_hi"), F.lit(3600))
            ).alias("h"),
        )
    )
    joined = spine.join(hourly, ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.max(
        F.when(F.col("n").isNotNull(), F.struct(F.col("h"), F.col("cents")))
    ).over(w)
    return joined.select(
        "event_type",
        "h",
        F.coalesce("n", F.lit(0)).alias("n"),
        carried.getField("cents").alias("locf_cents"),
    )


SQL_DENSE_TIMESERIES = """
WITH hourly AS (
  SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS h,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT MIN((CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600) AS h_lo,
         MAX((CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600) AS h_hi
  FROM events
),
spine AS (
  SELECT t.event_type, s.h
  FROM (SELECT DISTINCT event_type FROM events) t, bounds,
       LATERAL (SELECT unnest(generate_series(bounds.h_lo, bounds.h_hi, 3600)) AS h) s
),
j AS (
  SELECT spine.event_type, spine.h, hourly.n, hourly.cents
  FROM spine LEFT JOIN hourly
    ON hourly.event_type = spine.event_type AND hourly.h = spine.h
)
SELECT event_type, h, COALESCE(n, 0) AS n,
       (MAX(CASE WHEN n IS NOT NULL THEN {'h': h, 'c': cents} END)
          OVER (PARTITION BY event_type ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).c AS locf_cents
FROM j
"""


def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-interpolated densification — the numeric sibling of
    dense_timeseries' LOCF: missing hours between two samples take the
    convex combination (prev·(t_next−t) + next·(t−t_prev)) / (t_next−
    t_prev), hours outside the sampled range stay NULL ('edge'). The
    numerator form keeps every term non-negative, so the exact
    subtract-remainder floor-div is portable (no negative floor/trunc
    dialect split); values are milli-cents, all int64.

    Plan: one observed-hour aggregate, the JVM-generated spine, and ONE
    window sort carrying BOTH neighbors (struct-max over the preceding
    frame, struct-min over the following frame — same sort, no second
    exchange, no IGNORE NULLS dialect dependence)."""
    ev = _t(spark, sf_dir, "events")
    hour = (F.floor(F.col("ts").cast("timestamp_ltz").cast("long") / 3600) * 3600)
    hourly = ev.groupBy("event_type", hour.alias("h")).agg(
        F.max(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    bounds = ev.agg(F.min(hour).alias("h_lo"), F.max(hour).alias("h_hi"))
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("h_lo", "h_hi", F.lit(3600))).alias("h"),
        )
    )
    j = spine.join(hourly, ["event_type", "h"], "left")
    present = F.col("cents").isNotNull()
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = j.select(
        "event_type",
        "h",
        "cents",
        F.max(F.when(present, F.struct("h", "cents"))).over(w_prev).alias("p"),
        F.min(F.when(present, F.struct("h", "cents"))).over(w_next).alias("nx"),
    )
    ph, pc = F.col("p.h"), F.col("p.cents")
    nh, nc = F.col("nx.h"), F.col("nx.cents")
    num = (pc * (nh - F.col("h")) + nc * (F.col("h") - ph)) * 1000
    den = nh - ph
    interp = ((num - num % den) / den).cast("long")
    return carried.select(
        "event_type",
        "h",
        F.when(present, F.lit("sample"))
        .when(F.col("p").isNotNull() & F.col("nx").isNotNull(), F.lit("interp"))
        .otherwise(F.lit("edge"))
        .alias("kind"),
        F.when(present, F.col("cents") * 1000)
        .when(F.col("p").isNotNull() & F.col("nx").isNotNull(), interp)
        .alias("v_milli"),
    )


SQL_INTERPOLATE_LINEAR = """
WITH hourly AS (
  SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS h,
         MAX(CAST(ROUND(value*100) AS BIGINT)) AS cents
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT MIN((CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600) AS h_lo,
         MAX((CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600) AS h_hi
  FROM events
),
spine AS (
  SELECT t.event_type, s.h
  FROM (SELECT DISTINCT event_type FROM events) t, bounds,
       LATERAL (SELECT unnest(generate_series(bounds.h_lo, bounds.h_hi, 3600)) AS h) s
),
j AS (
  SELECT spine.event_type, spine.h, hourly.cents
  FROM spine LEFT JOIN hourly
    ON hourly.event_type = spine.event_type AND hourly.h = spine.h
),
c AS (
  SELECT event_type, h, cents,
         MAX(CASE WHEN cents IS NOT NULL THEN {'h': h, 'c': cents} END)
           OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
         MIN(CASE WHEN cents IS NOT NULL THEN {'h': h, 'c': cents} END)
           OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
  FROM j
)
SELECT event_type, h,
       CASE WHEN cents IS NOT NULL THEN 'sample'
            WHEN p IS NOT NULL AND nx IS NOT NULL THEN 'interp'
            ELSE 'edge' END AS kind,
       CASE WHEN cents IS NOT NULL THEN cents * 1000
            WHEN p IS NOT NULL AND nx IS NOT NULL THEN
              CAST(((p.c * (nx.h - h) + nx.c * (h - p.h)) * 1000
                    - ((p.c * (nx.h - h) + nx.c * (h - p.h)) * 1000)
                      % (nx.h - p.h))
                   / (nx.h - p.h) AS BIGINT)
       END AS v_milli
FROM c
"""


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-event: per signup-week cohort, the exact lower median of
    seconds from a user's FIRST signup to their FIRST purchase at or
    after it (non-converters excluded; n_users counts the cohort, so
    the conversion rate rides along as exact integers). The survival-
    analysis staple behind activation dashboards.

    Plan: per-user firsts are one user-keyed aggregate (min + the
    conditional min of purchases ≥ first signup via a struct compare);
    the median uses the weighted_median value-domain trick — cumulative
    window over per-(cohort, delta) counts, never a per-row sort."""
    ev = _t(spark, sf_dir, "events")
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    per_user = (
        ev.select("user_id", "event_type", epoch.alias("s"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("s"))).alias("s0"),
        )
    )
    purch = (
        ev.select("user_id", "event_type", epoch.alias("s"))
        .where(F.col("event_type") == "purchase")
        .join(per_user, "user_id")
        .where(F.col("s0").isNotNull() & (F.col("s") >= F.col("s0")))
        .groupBy("user_id")
        .agg(F.min("s").alias("p0"), F.min("s0").alias("s0"))
    )
    cohort = F.floor(F.col("s0") / 604800).alias("cohort_week")
    deltas = purch.select(cohort, (F.col("p0") - F.col("s0")).alias("delta"))
    per_value = deltas.groupBy("cohort_week", "delta").agg(F.count("*").alias("w"))
    w_cum = (
        Window.partitionBy("cohort_week")
        .orderBy("delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("cohort_week").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    crossed = per_value.select(
        "cohort_week",
        "delta",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    ).where(F.lit(2) * F.col("cw") >= F.col("tw"))
    signups = per_user.where(F.col("s0").isNotNull()).select(
        F.floor(F.col("s0") / 604800).alias("cohort_week")
    ).groupBy("cohort_week").agg(F.count("*").alias("n_users"))
    med = crossed.groupBy("cohort_week").agg(
        F.min("delta").alias("median_secs"),
        F.max("tw").alias("n_converted"),
    )
    return signups.join(med, "cohort_week", "left")


SQL_TIME_TO_CONVERT = """
WITH pu AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS s0
  FROM events GROUP BY user_id
),
pp AS (
  SELECT e.user_id, MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS p0, MIN(pu.s0) AS s0
  FROM events e JOIN pu ON e.user_id = pu.user_id
  WHERE e.event_type = 'purchase' AND pu.s0 IS NOT NULL
    AND CAST(floor(epoch(e.ts)) AS BIGINT) >= pu.s0
  GROUP BY e.user_id
),
pv AS (
  SELECT s0 // 604800 AS cohort_week, p0 - s0 AS delta, COUNT(*) AS w
  FROM pp GROUP BY 1, 2
),
c AS (
  SELECT cohort_week, delta,
         SUM(w) OVER (PARTITION BY cohort_week ORDER BY delta
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(w) OVER (PARTITION BY cohort_week) AS tw
  FROM pv
),
med AS (
  SELECT cohort_week, CAST(MIN(delta) AS BIGINT) AS median_secs,
         CAST(MAX(tw) AS BIGINT) AS n_converted
  FROM c WHERE 2 * cw >= tw GROUP BY cohort_week
),
sg AS (
  SELECT s0 // 604800 AS cohort_week, COUNT(*) AS n_users
  FROM pu WHERE s0 IS NOT NULL GROUP BY 1
)
SELECT sg.cohort_week, sg.n_users, med.median_secs, med.n_converted
FROM sg LEFT JOIN med USING (cohort_week)
"""


def q_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness audit — the first page of any collector
    dashboard: for each event type, its last-seen timestamp, the lag
    behind the freshest stream in exact epoch seconds, and a staleness
    flag (> 1 h behind). One scan: per-type MAX aggregate, global max
    via a window over the |types|-row aggregate output (bounded by
    construction), integer lag — no clock reads, so the audit is
    deterministic and replayable."""
    ev = _t(spark, sf_dir, "events")
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    per = ev.groupBy("event_type").agg(
        F.max(epoch).alias("last_s"), F.count("*").alias("n")
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return per.select(
        "event_type",
        "n",
        "last_s",
        (F.max("last_s").over(w) - F.col("last_s")).alias("lag_s"),
        ((F.max("last_s").over(w) - F.col("last_s")) > 3600).alias("stale"),
    )


SQL_FRESHNESS_AUDIT = """
WITH per AS (
  SELECT event_type, MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_s,
         COUNT(*) AS n
  FROM events GROUP BY event_type
)
SELECT event_type, n, last_s,
       MAX(last_s) OVER () - last_s AS lag_s,
       (MAX(last_s) OVER () - last_s) > 3600 AS stale
FROM per
"""


def q_error_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-experience impact screen: purchase behavior of users who
    ever hit a SEVERE error (value > 150 — plain errors are universal
    in this stream, severe ones split the population) vs users who
    never did — counts and exact per-mille purchase-per-event rates
    (cross-multiplied integers; the 2x2 contingency the ops dashboard
    wants before anyone claims causality). One user-keyed aggregate
    then a 2-group rollup."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "error") & (F.col("value") > 150)).cast("int")
        ).alias("hit_error"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_purch"),
        F.count("*").alias("n_events"),
    )
    g = per_user.groupBy("hit_error").agg(
        F.count("*").alias("n_users"),
        F.sum("n_purch").alias("purchases"),
        F.sum("n_events").alias("events"),
    )
    permille = (
        F.col("purchases") * 1000
        - (F.col("purchases") * 1000) % F.col("events")
    ) / F.col("events")
    return g.select(
        "hit_error", "n_users", "purchases", "events",
        permille.cast("long").alias("purchase_permille"),
    )


SQL_ERROR_IMPACT = """
WITH pu AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'error' AND value > 150
                  THEN 1 ELSE 0 END) AS hit_error,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch,
         COUNT(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT hit_error, COUNT(*) AS n_users,
       CAST(SUM(n_purch) AS BIGINT) AS purchases,
       CAST(SUM(n_events) AS BIGINT) AS events,
       CAST(SUM(n_purch) AS BIGINT) * 1000 // CAST(SUM(n_events) AS BIGINT)
         AS purchase_permille
FROM pu GROUP BY hit_error
"""


def q_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection (MATCH_RECOGNIZE-lite): purchases
    preceded by a signup with NO error in between — the negative-
    condition funnel a plain step-funnel can't express (funnel_steps
    counts A→B; this demands ¬C between A and B).

    Plan: ONE user-keyed window sort; the last-preceding signup and
    last-preceding error ride the same sort as struct-max carries
    (strictly-before frame), and the pattern test is a struct compare —
    no per-step self-joins, no row-pattern automaton, the same
    one-exchange shape as the funnel. Ties break on (ts, event_id) in
    both engines."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mark = lambda t: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, F.struct("ts", "event_id"))
    ).over(w)
    x = ev.select(
        "user_id",
        "event_type",
        mark("signup").alias("ls"),
        mark("error").alias("le"),
    ).where(F.col("event_type") == "purchase")
    clean = F.col("ls").isNotNull() & (
        F.col("le").isNull() | (F.col("le") < F.col("ls"))
    )
    return x.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        F.sum(clean.cast("long")).alias("n_clean"),
    )


SQL_PATTERN_DETECT = """
WITH x AS (
  SELECT user_id, event_type,
         MAX(CASE WHEN event_type = 'signup' THEN {'t': ts, 'i': event_id} END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ls,
         MAX(CASE WHEN event_type = 'error' THEN {'t': ts, 'i': event_id} END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS le
  FROM events
)
SELECT user_id, COUNT(*) AS n_purchases,
       CAST(SUM(CASE WHEN ls IS NOT NULL AND (le IS NULL OR le < ls)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
FROM x WHERE event_type = 'purchase' GROUP BY user_id
"""


def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS linear trend — the capacity-planning query over
    collected metric series ("is this gauge drifting, and how fast").
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept =
    (Σy − slope·Σx)/n, with x = seconds since the series' own first
    sample and y = integer cents: every sum is an exact BIGINT in both
    engines (magnitudes ≤ ~1e17 « 2^63), so the final divisions are the
    same two IEEE ops. Built from explicit integer sums, NOT
    regr_slope(), whose internal double accumulation order is
    engine-specific. One shuffle: the min-x window and the aggregate
    share the user_id partitioning. Series with <3 samples or zero
    time-variance are dropped (fit undefined)."""
    ev = _t(spark, sf_dir, "events")
    s = F.col("ts").cast("timestamp_ltz").cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id")
    base = ev.select(
        "user_id", s.alias("s"), cents.alias("y")
    ).withColumn("x", F.col("s") - F.min("s").over(w))
    agg = base.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / den.cast("double")
    )
    return (
        agg.filter((F.col("n") >= 3) & (den > 0))
        .select(
            "user_id",
            "n",
            F.round(slope, 8).alias("slope_cents_per_s"),
            F.round(
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("n").cast("double"),
                4,
            ).alias("intercept_cents"),
        )
    )


SQL_TREND_SLOPE = """
WITH base AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - MIN(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id) AS x,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events
),
agg AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM base GROUP BY user_id
)
SELECT user_id, n,
       round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 8)
         AS slope_cents_per_s,
       round((CAST(sy AS DOUBLE)
              - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS intercept_cents
FROM agg WHERE n >= 3 AND n*sxx - sx*sx > 0
"""


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-10 EWMA smoothing with α = 1/2 — the standard metric
    smoother, engineered for cross-engine exactness: with dyadic decay,
    weight 2^i on the i-th frame element (newest highest), both the
    numerator Σ v_i·2^i and denominator 2^n − 1 are EXACT integers, so
    ewma = one double division of identical integers on both engines.
    One user-keyed sort carries the frame window (collect over ROWS
    BETWEEN 9 PRECEDING AND CURRENT — bounded state, order = frame
    order in both engines)."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    frames = ev.select(
        "user_id",
        "event_id",
        F.collect_list(cents).over(w).alias("frame"),
    )
    num = F.expr(
        "aggregate(zip_with(frame, sequence(0, size(frame) - 1),"
        " (v, i) -> v * shiftleft(CAST(1 AS BIGINT), i)),"
        " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )
    den = F.expr("shiftleft(CAST(1 AS BIGINT), size(frame)) - 1")
    return frames.select(
        "user_id",
        "event_id",
        F.size("frame").alias("n_in_frame"),
        F.round(num.cast("double") / den.cast("double"), 4).alias("ewma_cents"),
    )


SQL_EWMA_SMOOTH = """
WITH f AS (
  SELECT user_id, event_id,
         list(CAST(ROUND(value * 100) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS frame
  FROM events
)
SELECT user_id, event_id, CAST(len(frame) AS INT) AS n_in_frame,
       round(CAST(list_sum(list_transform(frame,
                    (v, i) -> v * (CAST(1 AS BIGINT) << (i - 1)))) AS DOUBLE)
             / CAST((CAST(1 AS BIGINT) << len(frame)) - 1 AS DOUBLE),
             4) AS ewma_cents
FROM f
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier audit per series — the robust
    twin of rolling_zscore (medians shrug off the very outliers a
    mean/σ rule lets poison the threshold). Exactness scheme: values
    are doubled (v2 = 2·cents) so the interpolated median of an even
    count is still an INTEGER; deviations are doubled again (mad4 =
    median of 2·|v2 − med2|) for the same reason; the outlier rule
    |v − med| > 3·MAD becomes the pure integer comparison
    2·d2 > 3·mad4. Plan: both medians are percentile windows over the
    SAME user_id partitioning and the final count groups on it — ONE
    exchange for the whole query."""
    ev = _t(spark, sf_dir, "events")
    v2 = (F.round(F.col("value") * 100).cast("long") * 2).alias("v2")
    w = Window.partitionBy("user_id")
    med2 = ev.select("user_id", v2).withColumn(
        "med2",
        F.percentile(F.col("v2"), F.lit(0.5)).over(w).cast("long"),
    )
    d = med2.withColumn("d2", F.abs(F.col("v2") - F.col("med2")))
    mad = d.withColumn(
        "mad4",
        F.percentile(F.col("d2") * 2, F.lit(0.5)).over(w).cast("long"),
    )
    return mad.groupBy("user_id").agg(
        F.count("*").alias("n_samples"),
        (F.max("med2") / F.lit(2.0)).alias("median_cents"),
        (F.max("mad4") / F.lit(4.0)).alias("mad_cents"),
        F.sum(
            F.when(F.col("d2") * 2 > 3 * F.col("mad4"), 1).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )


SQL_MAD_OUTLIERS = """
WITH v AS (
  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) * 2 AS v2 FROM events
),
m AS (
  SELECT user_id, v2,
         CAST(median(v2) OVER (PARTITION BY user_id) AS BIGINT) AS med2
  FROM v
),
d AS (
  SELECT user_id, v2, med2, abs(v2 - med2) AS d2 FROM m
),
md AS (
  SELECT user_id, v2, med2, d2,
         CAST(median(d2 * 2) OVER (PARTITION BY user_id) AS BIGINT) AS mad4
  FROM d
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
       MAX(med2) / 2.0 AS median_cents,
       MAX(mad4) / 4.0 AS mad_cents,
       CAST(SUM(CASE WHEN d2 * 2 > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM md GROUP BY user_id
"""


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal decomposition per event type: the seasonal
    mean over each (type, hod) cell plus the count of residual outliers
    (|value - cell mean| > $5), decided in EXACT integer arithmetic —
    |v_cents*n - s| > 500*n avoids dividing the mean, so the flag can
    never float-flip (the rolling_zscore convention). One shuffle: the
    per-cell stats come from a window over the same key the final
    groupBy uses, so the aggregation reuses the exchange."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    keyed = ev.select(
        "event_type", F.hour("ts").alias("hod"), cents.alias("v_cents")
    )
    w = Window.partitionBy("event_type", "hod")
    enriched = keyed.select(
        "event_type",
        "hod",
        "v_cents",
        F.sum("v_cents").over(w).alias("s"),
        F.count("*").over(w).alias("n"),
    )
    flagged = enriched.withColumn(
        "is_outlier",
        (F.abs(F.col("v_cents") * F.col("n") - F.col("s")) > 500 * F.col("n")).cast(
            "int"
        ),
    )
    # 4-decimal mean via integer half-up rounding: ROUND(double, 4) ties
    # split across engines (found by the sf0.001 differential run — a
    # cell mean landing exactly on a .00005 boundary); round-half-up of
    # s*100/n is the exact integer (200s + n) // (2n), and an int/1e4
    # double divide is correctly rounded everywhere.
    avg4 = (
        (
            F.lit(200) * F.max("s")
            + F.max("n")
            - (F.lit(200) * F.max("s") + F.max("n")) % (F.lit(2) * F.max("n"))
        )
        / (F.lit(2) * F.max("n"))
    ).cast("long")
    return flagged.groupBy("event_type", "hod").agg(
        F.count("*").alias("n"),
        (avg4.cast("double") / 10000.0).alias("avg_value"),
        F.sum("is_outlier").alias("n_outliers"),
    )


SQL_SEASONAL_PROFILE = """
WITH keyed AS (
  SELECT event_type, date_part('hour', ts) AS hod,
         CAST(ROUND(value * 100) AS BIGINT) AS v_cents
  FROM events
),
cells AS (
  SELECT event_type, hod, SUM(v_cents) AS s, COUNT(*) AS n
  FROM keyed GROUP BY 1, 2
)
SELECT k.event_type, CAST(k.hod AS INT) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST((200 * CAST(MAX(c.s) AS HUGEINT) + MAX(c.n))
            // (2 * CAST(MAX(c.n) AS HUGEINT)) AS BIGINT) / 10000.0
         AS avg_value,
       CAST(SUM(CASE WHEN abs(k.v_cents * c.n - c.s) > 500 * c.n
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM keyed k JOIN cells c USING (event_type, hod)
GROUP BY 1, 2
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event
    sequence (lag/lead over the (user, time) order): the path-analysis
    primitive behind next-action prediction and funnel discovery.
    One user-keyed exchange + in-partition sort; the transition matrix
    is |event_type|^2 rows. Integer-exact; the probability column is
    the exact rational n / row_total rounded to 4."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    w_from = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_from), 4).alias("p_next"),
    )


SQL_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
),
pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(n / SUM(n) OVER (PARTITION BY from_type), 4) AS p_next
FROM pairs
"""


def q_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase event credits the FIRST
    event in the same user's preceding 1-hour lookback (the marketing
    attribution primitive). Expressed as one user-keyed sort + a
    running min-struct window bounded by a range frame — no self-join,
    the same join-free discipline as the funnel. Integer/timestamp
    exact; credit counts per (channel=first event_type)."""
    ev = _t(spark, sf_dir, "events")
    secs = F.unix_timestamp("ts")
    base = ev.select(
        "user_id", "event_type", "event_id", secs.alias("s")
    )
    # rangeBetween needs a single numeric sort key; event_id tie-break
    # folds into the struct-min (earliest second, then lowest id wins)
    first_in_window = F.min(
        F.struct(F.col("s"), F.col("event_id"), F.col("event_type"))
    ).over(
        Window.partitionBy("user_id").orderBy("s").rangeBetween(-3600, 0)
    )
    attributed = base.withColumn("first_touch", first_in_window).where(
        F.col("event_type") == "purchase"
    )
    return (
        attributed.groupBy(
            F.col("first_touch.event_type").alias("channel")
        )
        .agg(F.count("*").alias("n_purchases"))
    )


SQL_ATTRIBUTION_FIRST_TOUCH = """
WITH base AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events
),
tagged AS (
  SELECT user_id, event_type,
         MIN({'s': s, 'e': event_id, 't': event_type}) OVER (
           PARTITION BY user_id ORDER BY s
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
         ) AS first_touch
  FROM base
)
SELECT first_touch.t AS channel, COUNT(*) AS n_purchases
FROM tagged WHERE event_type = 'purchase'
GROUP BY 1
"""


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection per event type, fully integer: with
    the per-type mean as exact rational s/n, the running statistic
    C_k = Σ_{i<=k}(v_i - s/n) is tracked scaled by n —
    nC_k = n·Σ v_i − k·s, all 64-bit integers — and a change is flagged
    where |nC_k| > h·n (h = $50 drift). No float exists anywhere, so
    the oracle is bit-exact. One keyed exchange: the per-type totals
    ride a window over the same key as the running sum.

    Range contract: n·run_sum stays in int64 up to ~10^9 cents-sum per
    series x 10^9 rows products — fine for per-series monitoring
    streams (ANSI mode would raise, not wrap, beyond); a whole-corpus
    100 TB run would compute the mean in a first pass and track C_k in
    double, trading the bit-exact gate for range."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_type", "ts", "event_id", cents.alias("v"))
    wt = Window.partitionBy("event_type")
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = base.select(
        "event_type",
        F.sum("v").over(wt).alias("s"),
        F.count("*").over(wt).alias("n"),
        F.sum("v").over(wrun).alias("run_sum"),
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("ts", "event_id")
        ).alias("k"),
    )
    ncusum = F.col("n") * F.col("run_sum") - F.col("k") * F.col("s")
    return (
        scored.withColumn("flag", (F.abs(ncusum) > 5000 * F.col("n")).cast("int"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_points"),
            F.sum("flag").alias("n_flagged"),
            F.max(F.abs(ncusum)).alias("max_ncusum"),
        )
    )


SQL_CUSUM_CHANGEPOINTS = """
WITH base AS (
  SELECT event_type, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
scored AS (
  SELECT event_type,
         SUM(v) OVER (PARTITION BY event_type) AS s,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(v) OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_sum,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS k
  FROM base
)
SELECT event_type,
       COUNT(*) AS n_points,
       CAST(SUM(CASE WHEN abs(n * run_sum - k * s) > 5000 * n
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(MAX(abs(n * run_sum - k * s)) AS BIGINT) AS max_ncusum
FROM scored GROUP BY event_type
"""


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (11-sample centered frame) per user series —
    the robust smoother: collect_list over the frame, in-row sort, pick
    the middle element. All integer cents, no interpolation, so the
    smoothed series is engine-exact. Cost model: the frame list is
    bounded (11), so this is one user-keyed sort + O(frame log frame)
    per row — the right exact-median plan for bounded frames (unbounded
    ones take the GK sketch instead). Output sampled to rn % 10 == 0
    rows to keep the gate compact."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-5, 5)
    base = ev.select(
        "user_id", "ts", "event_id", cents.alias("v")
    ).select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.sort_array(F.collect_list("v").over(wf)).alias("frame"),
    )
    mid = F.floor((F.size("frame") + 1) / 2).cast("int")
    return base.where(F.col("rn") % 10 == 0).select(
        "user_id",
        "rn",
        F.size("frame").cast("int").alias("frame_n"),
        (F.get(F.col("frame"), mid - 1) / F.lit(100.0)).alias("rolling_median"),
    )


SQL_ROLLING_MEDIAN = """
WITH base AS (
  SELECT user_id, ts, event_id, CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
framed AS (
  SELECT user_id,
         ROW_NUMBER() OVER w AS rn,
         list_sort(list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING))
           AS frame
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(rn AS INT) AS rn,
       CAST(len(frame) AS INT) AS frame_n,
       frame[CAST((len(frame) + 1) // 2 AS INT)] / 100.0 AS rolling_median
FROM framed WHERE rn % 10 = 0
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per event type: 10 fixed-width bins
    over the global [min, max] cents range (integer bin math mirrors
    zorder's exact floor-quotient argument), counts + per-bin exact
    mean. The global extrema are a one-row broadcast; binning is
    map-side; one (type, bin) aggregate."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_type", cents.alias("v"))
    ext = base.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = base.crossJoin(F.broadcast(ext)).withColumn(
        "bin",
        F.least(
            F.lit(9),
            F.floor((F.col("v") - F.col("lo")) * 10 / (F.col("hi") - F.col("lo") + 1)),
        ).cast("int"),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count("*").alias("n"),
        F.round(F.sum("v") / (F.lit(100.0) * F.count("*")), 4).alias("bin_mean"),
    )


SQL_VALUE_HISTOGRAM = """
WITH base AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
),
ext AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM base),
binned AS (
  SELECT event_type, v,
         CAST(least(9, CAST(floor((v - lo) * 10.0 / (hi - lo + 1)) AS BIGINT))
              AS INT) AS bin
  FROM base, ext
)
SELECT event_type, bin, COUNT(*) AS n,
       round(SUM(v) / (100.0 * COUNT(*)), 4) AS bin_mean
FROM binned GROUP BY 1, 2
"""


def q_sliding_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window DISTINCT user counts (1 h window, 15 min hop) —
    the deduplicating twin of events_sliding's row counts: each row
    expands to its 4 covering windows (Generate), then ONE partial-agg
    shuffle on (window, type) carries the distinct set. At 100 TB the
    exact distinct makes this the expensive form by design; the
    approx_count_distinct drop-in (operators/sketches.py) is the
    production path when the count can be ±2%."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_users")
    )


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-SIZE estimation from Count-Min sketches (the AMS/CMS inner
    product — a query planner's cardinality estimate): for each pair of
    event types, estimate |A ⋈ B on user_id| = Σ_u n_a(u)·n_b(u) as
    MIN over hash rows of Σ_col cntA·cntB, from per-type sketches built
    in ONE pass (operators/sketches.py::cms_cells_by/cms_inner_product).
    md5 hashing makes the ESTIMATE itself deterministic, so the oracle
    replays sketch construction and the inner product exactly — plus
    the one-sided guarantee (never an undercount) as a checked column.
    At 100 TB the exact answer needs a per-pair join; the sketches are
    depth×width cells per type, built once, reused for every pairing."""
    from database_collector_spark.operators import sketches

    ev = _t(spark, sf_dir, "events")
    items = ev.select("event_type", F.col("user_id").alias("item"))
    cells = sketches.cms_cells_by(items, by="event_type").localCheckpoint(
        eager=True
    )
    est = sketches.cms_inner_product(
        cells.withColumnRenamed("event_type", "type_a"),
        cells.withColumnRenamed("event_type", "type_b"),
    ).where(F.col("type_a") < F.col("type_b"))
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n")
    )
    a = per_user.select(
        F.col("event_type").alias("type_a"), "user_id", F.col("n").alias("n_a")
    )
    b = per_user.select(
        F.col("event_type").alias("type_b"), "user_id", F.col("n").alias("n_b")
    )
    exact = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.sum(F.col("n_a") * F.col("n_b")).alias("exact_join_size"))
    )
    return exact.join(est, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_join_size",
        "cms_join_estimate",
        (F.col("cms_join_estimate") >= F.col("exact_join_size")).alias(
            "no_undercount"
        ),
    )


_SQL_HEX8_TS = (
    "(SELECT SUM(CAST(strpos('0123456789abcdef', substr({h}, i, 1)) - 1 AS BIGINT)"
    " * (CAST(1 AS BIGINT) << (4 * (8 - i))))"
    " FROM (SELECT unnest(generate_series(1, 8)) AS i))"
)

SQL_CMS_JOIN_SIZE = f"""
WITH it AS (SELECT event_type, CAST(user_id AS VARCHAR) AS item FROM events),
hashed AS (
  SELECT it.event_type, dd.d,
         {_SQL_HEX8_TS.format(h="md5(dd.d || ':' || it.item)")} % 256 AS col
  FROM it, (SELECT unnest(generate_series(0, 3)) AS d) dd
),
cells AS (
  SELECT event_type, d, col, COUNT(*) AS cnt FROM hashed GROUP BY 1, 2, 3
),
dots AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, a.d,
         SUM(a.cnt * b.cnt) AS dot
  FROM cells a
  JOIN cells b ON a.d = b.d AND a.col = b.col AND a.event_type < b.event_type
  GROUP BY 1, 2, 3
),
est AS (
  SELECT type_a, type_b, MIN(dot) AS cms_join_estimate FROM dots GROUP BY 1, 2
),
pu AS (SELECT event_type, user_id, COUNT(*) AS n FROM events GROUP BY 1, 2),
exact AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         SUM(a.n * b.n) AS exact_join_size
  FROM pu a JOIN pu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT e.type_a, e.type_b,
       CAST(e.exact_join_size AS BIGINT) AS exact_join_size,
       CAST(s.cms_join_estimate AS BIGINT) AS cms_join_estimate,
       s.cms_join_estimate >= e.exact_join_size AS no_undercount
FROM exact e JOIN est s USING (type_a, type_b)
"""


def q_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-INTERSECTION cardinality between event-type audiences via a
    coordinated bottom sketch — the estimate HLL structurally cannot
    give (HLL unions merge; intersections only come from
    inclusion-exclusion with compounding error). Every user hashes to
    one md5-derived uniform; each type's sketch is the users whose
    uniform < p = 1/4 (threshold bottom-sketch, the fixed-p variant of
    KMV / MinHash coordinated sampling). Because the SAME hash decides
    membership on both sides, sketch_A ∩ sketch_B is an unbiased
    p-sample of A ∩ B: estimate = |K_A ∩ K_B| / p.

    At 100 TB the sketch join touches p·|users| rows instead of the full
    audiences — and the sketches are reusable across every pairwise
    question. Gate emits the exact intersection (oracle twin) plus a
    bounded-error verdict: within max(15 %, ±20) — |K∩| is
    Binomial(n∩, p), rel. sd = sqrt((1−p)/(n∩·p)) ≈ 5.5 % at n∩ = 1000,
    so 15 % is ~3σ, and the ±20 floor covers small intersections.
    Deterministic: md5 uniforms, no RNG."""
    ev = _t(spark, sf_dir, "events")
    u = ev.select("event_type", "user_id").distinct()
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    kept = u.where(hv < int(0.25 * 2**32))
    a, b = [
        df.select(
            F.col("event_type").alias(n), "user_id"
        )
        for df, n in ((u, "type_a"), (u, "type_b"))
    ]
    exact = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").alias("exact_common"))
    )
    ka, kb = [
        kept.select(F.col("event_type").alias(n), "user_id")
        for n in ("type_a", "type_b")
    ]
    est = (
        ka.join(kb, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg((F.count("*") * 4.0).alias("est"))
    )
    tol = F.greatest(0.15 * F.col("exact_common").cast("double"), F.lit(20.0))
    return (
        exact.join(est, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "exact_common",
            (
                F.abs(F.coalesce("est", F.lit(0.0)) - F.col("exact_common"))
                <= tol
            ).alias("within_tol"),
        )
    )


SQL_KMV_INTERSECTION = """
WITH u AS (SELECT DISTINCT event_type, user_id FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       COUNT(DISTINCT a.user_id) AS exact_common,
       TRUE AS within_tol
FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
"""


def q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014 — the
    pixel-perfect reduction every TSDB dashboard path uses): per
    (event_type, 6 h bucket) keep exactly the four extremum points —
    first/last by time, min/max by value — which provably preserve the
    line rendering of the full series at bucket-per-pixel resolution.
    Unlike LTTB (whose selected point depends sequentially on the
    previous bucket's choice), M4 is a pure per-bucket aggregate: ONE
    partial-agg shuffle on (type, bucket), mergeable map-side, no
    window, no order dependence — the form that survives 100 TB.
    Tie-breaks are total (struct-lexicographic on (value, ts, event_id)
    / (ts, event_id)), so the gate is bit-deterministic; values pass
    through untouched (no float arithmetic)."""
    ev = _t(spark, sf_dir, "events")
    b = F.floor(F.col("ts").cast("timestamp_ltz").cast("long") / 21600)
    g = ev.select(
        "event_type",
        b.alias("bucket"),
        "ts",
        "event_id",
        "value",
    ).groupBy("event_type", "bucket")
    return g.agg(
        F.count("*").alias("n_points"),
        F.min(F.struct("ts", "event_id", "value")).alias("_f"),
        F.max(F.struct("ts", "event_id", "value")).alias("_l"),
        F.min(F.struct("value", "ts", "event_id")).alias("_lo"),
        F.max(F.struct("value", "ts", "event_id")).alias("_hi"),
    ).select(
        "event_type",
        "bucket",
        "n_points",
        F.col("_f.ts").alias("ts_first"),
        F.col("_f.value").alias("v_first"),
        F.col("_l.ts").alias("ts_last"),
        F.col("_l.value").alias("v_last"),
        F.col("_lo.value").alias("v_min"),
        F.col("_lo.ts").alias("ts_min"),
        F.col("_hi.value").alias("v_max"),
        F.col("_hi.ts").alias("ts_max"),
    )


SQL_M4_DOWNSAMPLE = """
WITH p AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         ts, event_id, value
  FROM events
),
r AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                       ORDER BY ts, event_id) AS rf,
    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                       ORDER BY ts DESC, event_id DESC) AS rl,
    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                       ORDER BY value, ts, event_id) AS rlo,
    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                       ORDER BY value DESC, ts DESC, event_id DESC) AS rhi,
    COUNT(*) OVER (PARTITION BY event_type, bucket) AS n_points
  FROM p
)
SELECT event_type, bucket, CAST(MAX(n_points) AS BIGINT) AS n_points,
       MAX(CASE WHEN rf = 1 THEN ts END) AS ts_first,
       MAX(CASE WHEN rf = 1 THEN value END) AS v_first,
       MAX(CASE WHEN rl = 1 THEN ts END) AS ts_last,
       MAX(CASE WHEN rl = 1 THEN value END) AS v_last,
       MAX(CASE WHEN rlo = 1 THEN value END) AS v_min,
       MAX(CASE WHEN rlo = 1 THEN ts END) AS ts_min,
       MAX(CASE WHEN rhi = 1 THEN value END) AS v_max,
       MAX(CASE WHEN rhi = 1 THEN ts END) AS ts_max
FROM r GROUP BY 1, 2
"""


def q_sliding_unique_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production drop-in `sliding_unique_users` documents: same
    1 h / 15 min hop windows, but the per-(window, type) distinct comes
    from HLL++ (``approx_count_distinct``, rsd=0.02) instead of an exact
    distinct — mergeable fixed-size registers instead of a shuffled
    distinct set, which is what survives 100 TB (the hop expansion still
    costs 4x rows, but the agg state per group drops from |users| to
    ~4 KB). Emitted as a bounded-error verdict exactly like
    ``approx_distinct``: exact count + "approx within max(5%, ±5)".
    The ±5 absolute floor covers the small-window regime (measured at
    sf0.1: every window with ≥50 users is EXACT under rsd=0.02, and the
    worst small-window absolute error across 14 415 windows is 3 — 5%
    alone would demand ±1 on a 30-user window, tighter than HLL's
    small-range estimator guarantees). A false verdict on any window
    hash-mismatches the oracle's literal TRUE."""
    ev = _t(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id", rsd=0.02).cast("double")
    exact = F.countDistinct("user_id")
    tol = F.greatest(0.05 * exact.cast("double"), F.lit(5.0))
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            exact.alias("exact_users"),
            (F.abs(approx - exact.cast("double")) <= tol).alias("within_tol"),
        )
        .select(
            F.col("w.start").alias("win_start"), "event_type",
            "exact_users", "within_tol",
        )
    )


SQL_SLIDING_UNIQUE_APPROX = """
WITH e AS (
  SELECT event_type, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events
),
expanded AS (
  SELECT event_type, user_id,
         CAST(to_timestamp((s // 900 - hop.h) * 900) AS TIMESTAMP) AS win_start
  FROM e, (SELECT unnest(generate_series(0, 3)) AS h) hop
  WHERE (s // 900 - hop.h) * 900 + 3600 > s AND (s // 900 - hop.h) * 900 <= s
)
SELECT win_start, event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_tol
FROM expanded GROUP BY 1, 2
"""


SQL_SLIDING_UNIQUE_USERS = """
WITH e AS (
  SELECT event_type, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events
),
expanded AS (
  SELECT event_type, user_id,
         CAST(to_timestamp((s // 900 - hop.h) * 900) AS TIMESTAMP) AS win_start
  FROM e, (SELECT unnest(generate_series(0, 3)) AS h) hop
  WHERE (s // 900 - hop.h) * 900 + 3600 > s AND (s // 900 - hop.h) * 900 <= s
)
SELECT win_start, event_type, COUNT(DISTINCT user_id) AS n_users
FROM expanded GROUP BY 1, 2
"""


def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4 parse_json /
    variant_get): parse the event props JSON into a variant, extract a
    typed field, aggregate per event type. The modern engine's answer
    to schemaless columns — the from_json twin (json_struct_parse)
    needs the schema up front; variant defers it to extraction time."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_VARIANT_JSON = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
         AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
         AS max_k
FROM events GROUP BY event_type
"""


# -------------------------------------------------------- interval difference

def q_interval_outages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user uncovered windows: activity intervals (every non-error
    event opens [ts, ts + value sec)) MINUS error intervals
    (operators/timeseries.py::interval_subtract — coalesce both sides +
    one boundary sweep, never a base x holes interval join)."""
    ev = _t(spark, sf_dir, "events")
    tus = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    iv = ev.select(
        "user_id",
        "event_type",
        tus.alias("start"),
        (tus + F.round(F.col("value") * 1_000_000).cast("long")).alias("end"),
    )
    base = iv.where(F.col("event_type") != "error").drop("event_type")
    holes = iv.where(F.col("event_type") == "error").drop("event_type")
    out = timeseries.interval_subtract(base, holes, by=("user_id",))
    return out.select(
        "user_id", F.col("start").alias("start_us"), F.col("end").alias("end_us")
    )


# Oracle is deliberately a DIFFERENT formulation: elementary segments
# from the union of all boundaries, EXISTS/NOT EXISTS coverage tests
# (constant within an elementary segment), then an islands merge.
SQL_INTERVAL_OUTAGES = """
WITH iv AS (
  SELECT user_id, event_type, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(ROUND(value * 1000000) AS BIGINT) AS e
  FROM events
),
b AS (SELECT user_id, s, e FROM iv WHERE event_type <> 'error' AND e > s),
h AS (SELECT user_id, s, e FROM iv WHERE event_type = 'error' AND e > s),
bounds AS (
  SELECT DISTINCT user_id, t FROM (
    SELECT user_id, s AS t FROM b UNION ALL SELECT user_id, e FROM b
    UNION ALL SELECT user_id, s FROM h UNION ALL SELECT user_id, e FROM h
  )
),
seg AS (
  SELECT user_id, t AS s,
         LEAD(t) OVER (PARTITION BY user_id ORDER BY t) AS e
  FROM bounds
),
kept AS (
  SELECT user_id, s, e FROM seg
  WHERE e IS NOT NULL AND e > s
    AND EXISTS (SELECT 1 FROM b
                WHERE b.user_id = seg.user_id AND b.s <= seg.s AND b.e >= seg.e)
    AND NOT EXISTS (SELECT 1 FROM h
                    WHERE h.user_id = seg.user_id AND h.s < seg.e AND h.e > seg.s)
),
x AS (
  SELECT user_id, s, e,
         CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM kept
),
y AS (
  SELECT user_id, s, e,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM x
)
SELECT user_id, MIN(s) AS start_us, MAX(e) AS end_us
FROM y GROUP BY user_id, isl
"""


# ------------------------------------------------------------ HLL gates
#
# Tolerance bounds follow the protocol: measured max error at sf0.1 and
# sf0.01 with >= 2x margin (SCALE.md). Sliding max(20%, ±15) vs measured
# max abs error 6.47 / rel 23.5% at sf0.1 (14,415 windows) and 1.99 abs
# at sf0.01; rollup max(15%, ±10) vs measured 5.7% rel / 85.5 abs at
# sf0.1 (0.15*1500 = 225, 2.6x margin). m = 256 -> rsd ~ 6.5%; linear
# counting covers the small-window regime.

_HLL_SALT_SLIDE = "shll"
_HLL_SALT_ROLL = "rhll"
_HLL_M = sketches.HLL_M
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
# repr() so the SQL literal parses to the bit-identical double Spark uses
_HLL_SCALE = repr(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 33))


def _hll_verdict(frac: float, floor: float) -> F.Column:
    exact = F.col("exact_users").cast("double")
    tol = F.greatest(F.lit(frac) * exact, F.lit(floor))
    return (F.abs(F.col("est_users") - exact) <= tol).alias("within_tol")


def q_hll_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users from DETERMINISTIC HLL registers
    (operators/sketches.py::hll_partial_registers) — same 1 h / 15 min
    hop windows as sliding_unique_users, but the sketch state itself is
    engine-reproducible, so the gate hashes (n_regs, v_zero, reg_sum):
    any register divergence fails the hash outright, and the estimate
    verdict documents accuracy on top. Batch twin of the stateful
    streaming op streaming/stateful.py::sliding_hll_unique (parity
    pinned register-for-register in tests/test_streaming_hll.py).

    Windows keyed by epoch-second BIGINT win_s — the r8 lesson: naive
    vs tz-aware TIMESTAMP is an oracle-portability trap; integer window
    keys cannot have it. Plan: hop explode (4x, the shared
    sketches.hop_expand the streaming twin and the parity test also
    use), one distinct-free register partial-agg (max is insensitive to
    duplicates), one finalize agg + one exact-twin agg joined on the
    window key.
    """
    ev = _t(spark, sf_dir, "events")
    s = F.col("ts").cast("timestamp_ltz").cast("long")
    expanded = sketches.hop_expand(
        ev.select("event_type", "user_id", s.alias("s")),
        window_s=3600,
        hop_s=900,
    ).select("event_type", "user_id", "win_s")
    regs = sketches.hll_partial_registers(
        expanded, ["event_type", "win_s"], "user_id", salt=_HLL_SALT_SLIDE
    )
    fin = sketches.hll_finalize(regs, ["event_type", "win_s"])
    exact = expanded.groupBy("event_type", "win_s").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        fin.join(exact, ["event_type", "win_s"])
        .select(
            "event_type",
            "win_s",
            "exact_users",
            "n_regs",
            "v_zero",
            "reg_sum",
            _hll_verdict(0.20, 15.0),
        )
    )


def _sql_hll_core(distinct_items_cte: str, keys: str, salt: str) -> str:
    """Shared oracle chain: ``items`` CTE (keys..., item VARCHAR) ->
    registers -> finalize columns, mirroring sketches.hll_* exactly
    (including the NULL-item drop in hll_rho_projection)."""
    h1 = hv_sql("item || ':" + salt + "'", 1)
    h2 = hv_sql("item || ':" + salt + "'", 9)
    return f"""{distinct_items_cte},
hashed AS (
  SELECT {keys}, {h1} % {_HLL_M} AS reg, {h2} AS h2
  FROM items WHERE item IS NOT NULL
),
regs AS (
  SELECT {keys}, reg,
         MAX(CASE WHEN h2 = 0 THEN 33 ELSE 33 - length(bin(h2)) END) AS rho
  FROM hashed GROUP BY {keys}, reg
),
fin AS (
  SELECT {keys},
         CAST(COUNT(*) AS INT) AS n_regs,
         CAST({_HLL_M} - COUNT(*) AS INT) AS v_zero,
         CAST(SUM(CAST(1 AS BIGINT) << (33 - rho))
              + ({_HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << 33) AS BIGINT)
           AS reg_sum
  FROM regs GROUP BY {keys}
),
est AS (
  SELECT *,
         CASE WHEN ({_HLL_SCALE} / CAST(reg_sum AS DOUBLE)) <= {2.5 * _HLL_M}
                   AND v_zero > 0
              THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST(v_zero AS DOUBLE))
              ELSE {_HLL_SCALE} / CAST(reg_sum AS DOUBLE) END AS est_users
  FROM fin
)"""


SQL_HLL_SLIDING_WINDOWS = f"""
WITH e AS (
  SELECT event_type, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events
),
expanded AS (
  -- floor-aligned window start via the pmod idiom: DuckDB // TRUNCATES
  -- toward zero (-7 // 2 = -3), so s // 900 * 900 would mis-align
  -- pre-1970 epochs relative to Spark's pmod floor alignment; the
  -- containment predicate is provably always-true for floor-aligned
  -- hops (see sketches.hop_expand), so none is needed
  SELECT event_type, user_id,
         (s - ((s % 900) + 900) % 900) - hop.h * 900 AS win_s
  FROM e, (SELECT unnest(generate_series(0, 3)) AS h) hop
),
{_sql_hll_core(
    "items AS (SELECT DISTINCT event_type, win_s,"
    " CAST(user_id AS VARCHAR) AS item FROM expanded)",
    "event_type, win_s",
    _HLL_SALT_SLIDE,
)},
exact AS (
  SELECT event_type, win_s, COUNT(DISTINCT user_id) AS exact_users
  FROM expanded GROUP BY 1, 2
)
SELECT x.event_type, x.win_s, x.exact_users,
       est.n_regs, est.v_zero, est.reg_sum,
       abs(est.est_users - CAST(x.exact_users AS DOUBLE))
         <= greatest(0.20 * CAST(x.exact_users AS DOUBLE), 15.0) AS within_tol
FROM exact x JOIN est USING (event_type, win_s)
"""


def q_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persist-then-merge sketch rollup: DAILY register partials per
    (event_type, day) — the bounded table a 100 TB pipeline writes to
    parquet each night (O(types x days x 256) rows, independent of event
    count) — ACTUALLY written to and read back from parquet (the nightly
    artifact), then merged register-by-register (max) up to event_type
    and finalized, with an exact twin verdict. Merging partials equals
    sketching the whole range directly BY CONSTRUCTION (max is
    associative), which is the property that lets month-level questions
    be answered without rescanning any day's raw events. The gate hashes
    the merged register state (n_regs, v_zero, reg_sum) + n_days +
    per-day partial row count, so a wrong partial anywhere — or a lossy
    round-trip — flips it."""
    ev = _t(spark, sf_dir, "events")
    # integer FLOOR division (s - pmod)/86400, not double-divide + cast
    # (which truncates toward zero): a pre-1970 epoch would bucket into
    # a different day under trunc. NB DuckDB's // ALSO truncates, so the
    # oracle floor-aligns the same way (pmod idiom) rather than using
    # bare // — the trunc-vs-floor engine-divergence class, both sides
    s = F.col("ts").cast("timestamp_ltz").cast("long")
    day = ((s - F.pmod(s, 86400)) / F.lit(86400)).cast("long")
    base = ev.select("event_type", day.alias("day"), "user_id")
    path = os.path.join(_artifact_dir("hll_rollup", sf_dir), "daily_registers")
    sketches.hll_partial_registers(
        base, ["event_type", "day"], "user_id", salt=_HLL_SALT_ROLL
    ).write.mode("overwrite").parquet(path)
    daily = spark.read.parquet(path)
    merged = sketches.merge_hll_registers(daily, ["event_type"])
    fin = sketches.hll_finalize(merged, ["event_type"])
    meta = daily.groupBy("event_type").agg(
        F.countDistinct("day").cast("int").alias("n_days"),
        F.count("*").alias("partial_rows"),
    )
    exact = base.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        fin.join(meta, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "partial_rows",
            "exact_users",
            "n_regs",
            "v_zero",
            "reg_sum",
            _hll_verdict(0.15, 10.0),
        )
    )


SQL_HLL_MERGEABLE_ROLLUP = f"""
WITH e0 AS (
  SELECT event_type, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
),
base AS (
  -- (es - pmod) is an exact multiple of 86400, so trunc-div == floor-div
  -- (DuckDB // truncates; bare es // 86400 would diverge from Spark's
  -- floor day key on pre-1970 epochs)
  SELECT event_type,
         (es - ((es % 86400) + 86400) % 86400) // 86400 AS day,
         user_id
  FROM e0
),
-- the daily partial table (merge then equals direct sketch; the oracle
-- recomputes the partial ROW COUNT to pin the persisted-table shape)
{_sql_hll_core(
    "items AS (SELECT DISTINCT event_type, day,"
    " CAST(user_id AS VARCHAR) AS item FROM base)",
    "event_type, day",
    _HLL_SALT_ROLL,
)},
daily_regs AS (SELECT event_type, day, reg, rho FROM regs),
merged AS (
  SELECT event_type, reg, MAX(rho) AS rho FROM daily_regs GROUP BY 1, 2
),
mfin AS (
  SELECT event_type,
         CAST(COUNT(*) AS INT) AS n_regs,
         CAST({_HLL_M} - COUNT(*) AS INT) AS v_zero,
         CAST(SUM(CAST(1 AS BIGINT) << (33 - rho))
              + ({_HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << 33) AS BIGINT)
           AS reg_sum
  FROM merged GROUP BY 1
),
mest AS (
  SELECT *,
         CASE WHEN ({_HLL_SCALE} / CAST(reg_sum AS DOUBLE)) <= {2.5 * _HLL_M}
                   AND v_zero > 0
              THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST(v_zero AS DOUBLE))
              ELSE {_HLL_SCALE} / CAST(reg_sum AS DOUBLE) END AS est_users
  FROM mfin
),
meta AS (
  SELECT event_type, CAST(COUNT(DISTINCT day) AS INT) AS n_days,
         COUNT(*) AS partial_rows
  FROM daily_regs GROUP BY 1
),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
  FROM base GROUP BY 1
)
SELECT x.event_type, m.n_days, m.partial_rows, x.exact_users,
       e.n_regs, e.v_zero, e.reg_sum,
       abs(e.est_users - CAST(x.exact_users AS DOUBLE))
         <= greatest(0.15 * CAST(x.exact_users AS DOUBLE), 10.0) AS within_tol
FROM exact x JOIN mest e USING (event_type) JOIN meta m USING (event_type)
"""


QUERIES = {
    "corr_matrix": q_corr_matrix,
    "decayed_counts": q_decayed_counts,
    "range_join_buckets": q_range_join_buckets,
    "capped_balance": q_capped_balance,
    "dist_drift": q_dist_drift,
    "psi_drift": q_psi_drift,
    "gap_detect": q_gap_detect,
    "bitmap_distinct": q_bitmap_distinct,
    "cms_estimates": q_cms_estimates,
    "interval_outages": q_interval_outages,
    "hll_sliding_windows": q_hll_sliding_windows,
    "hll_mergeable_rollup": q_hll_mergeable_rollup,
    "events_hourly": q_events_hourly,
    "pit_join": q_pit_join,
    "time_weighted_avg": q_time_weighted_avg,
    "interval_coalesce": q_interval_coalesce,
    "prorate_daily": q_prorate_daily,
    "session_paths": q_session_paths,
    "rollup_cascade": q_rollup_cascade,
    "interpolate_linear": q_interpolate_linear,
    "pattern_detect": q_pattern_detect,
    "time_to_convert": q_time_to_convert,
    "error_impact": q_error_impact,
    "freshness_audit": q_freshness_audit,
    "seasonal_profile": q_seasonal_profile,
    "event_transitions": q_event_transitions,
    "attribution_first_touch": q_attribution_first_touch,
    "cusum_changepoints": q_cusum_changepoints,
    "rolling_median": q_rolling_median,
    "value_histogram": q_value_histogram,
    "sliding_unique_users": q_sliding_unique_users,
    "sliding_unique_approx": q_sliding_unique_approx,
    "m4_downsample": q_m4_downsample,
    "kmv_intersection": q_kmv_intersection,
    "cms_join_size": q_cms_join_size,
    "variant_json": q_variant_json,
    "events_sliding": q_events_sliding,
    "sessionization": q_sessionization,
    "asof_join": q_asof_join,
    "histogram_metrics": q_histogram_metrics,
    "summary_quantiles": q_summary_quantiles,
    "kv_pivot_wide": q_kv_pivot_wide,
    "json_struct_parse": q_json_struct_parse,
    "rollup_counts": q_rollup_counts,
    "approx_distinct": q_approx_distinct,
    "ttl_expiry_counts": q_ttl_expiry_counts,
    "interval_join_events": q_interval_join_events,
    "funnel_steps": q_funnel_steps,
    "retention_cohorts": q_retention_cohorts,
    "counter_rate": q_counter_rate,
    "rolling_zscore": q_rolling_zscore,
    "histogram_quantile": q_histogram_quantile,
    "dense_timeseries": q_dense_timeseries,
    "trend_slope": q_trend_slope,
    "ewma_smooth": q_ewma_smooth,
    "mad_outliers": q_mad_outliers,
}

ORACLES = {
    "corr_matrix": SQL_CORR_MATRIX,
    "decayed_counts": SQL_DECAYED_COUNTS,
    "range_join_buckets": SQL_RANGE_JOIN_BUCKETS,
    "capped_balance": SQL_CAPPED_BALANCE,
    "dist_drift": SQL_DIST_DRIFT,
    "psi_drift": SQL_PSI_DRIFT,
    "gap_detect": SQL_GAP_DETECT,
    "bitmap_distinct": SQL_BITMAP_DISTINCT,
    "cms_estimates": SQL_CMS_ESTIMATES,
    "interval_outages": SQL_INTERVAL_OUTAGES,
    "hll_sliding_windows": SQL_HLL_SLIDING_WINDOWS,
    "hll_mergeable_rollup": SQL_HLL_MERGEABLE_ROLLUP,
    "events_hourly": SQL_EVENTS_HOURLY,
    "pit_join": SQL_PIT_JOIN,
    "time_weighted_avg": SQL_TIME_WEIGHTED_AVG,
    "interval_coalesce": SQL_INTERVAL_COALESCE,
    "prorate_daily": SQL_PRORATE_DAILY,
    "session_paths": SQL_SESSION_PATHS,
    "rollup_cascade": SQL_ROLLUP_CASCADE,
    "interpolate_linear": SQL_INTERPOLATE_LINEAR,
    "pattern_detect": SQL_PATTERN_DETECT,
    "time_to_convert": SQL_TIME_TO_CONVERT,
    "error_impact": SQL_ERROR_IMPACT,
    "freshness_audit": SQL_FRESHNESS_AUDIT,
    "seasonal_profile": SQL_SEASONAL_PROFILE,
    "event_transitions": SQL_EVENT_TRANSITIONS,
    "attribution_first_touch": SQL_ATTRIBUTION_FIRST_TOUCH,
    "cusum_changepoints": SQL_CUSUM_CHANGEPOINTS,
    "rolling_median": SQL_ROLLING_MEDIAN,
    "value_histogram": SQL_VALUE_HISTOGRAM,
    "sliding_unique_users": SQL_SLIDING_UNIQUE_USERS,
    "sliding_unique_approx": SQL_SLIDING_UNIQUE_APPROX,
    "m4_downsample": SQL_M4_DOWNSAMPLE,
    "kmv_intersection": SQL_KMV_INTERSECTION,
    "cms_join_size": SQL_CMS_JOIN_SIZE,
    "variant_json": SQL_VARIANT_JSON,
    "events_sliding": SQL_EVENTS_SLIDING,
    "sessionization": SQL_SESSIONIZATION,
    "asof_join": SQL_ASOF_JOIN,
    "histogram_metrics": SQL_HISTOGRAM_METRICS,
    "summary_quantiles": SQL_SUMMARY_QUANTILES,
    "kv_pivot_wide": SQL_KV_PIVOT_WIDE,
    "json_struct_parse": SQL_JSON_STRUCT_PARSE,
    "rollup_counts": SQL_ROLLUP_COUNTS,
    "approx_distinct": SQL_APPROX_DISTINCT,
    "ttl_expiry_counts": SQL_TTL_EXPIRY_COUNTS,
    "interval_join_events": SQL_INTERVAL_JOIN_EVENTS,
    "funnel_steps": SQL_FUNNEL_STEPS,
    "retention_cohorts": SQL_RETENTION_COHORTS,
    "counter_rate": SQL_COUNTER_RATE,
    "rolling_zscore": SQL_ROLLING_ZSCORE,
    "histogram_quantile": SQL_HISTOGRAM_QUANTILE,
    "dense_timeseries": SQL_DENSE_TIMESERIES,
    "trend_slope": SQL_TREND_SLOPE,
    "ewma_smooth": SQL_EWMA_SMOOTH,
    "mad_outliers": SQL_MAD_OUTLIERS,
}
