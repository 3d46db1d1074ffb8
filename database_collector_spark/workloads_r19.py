"""Round-19 gates — the robust-statistics tier on the fixed-rank
selection core.

The pre-agreed r19 candidates recorded in COVERAGE.md during round 15,
permanently staged (``gates.STAGED``, COVERAGE.md §staged-tier):
oracle-paired and run against their DuckDB twins by
``tests/test_gates.py`` and ``tools/check.py --staged``, but never
registered with the driver. All three compose on
``ranking.rank_select_by_group`` (two corpus scans per selection
phase, no corpus shuffle, state bounded by one log-cell's value
population — see SCALE.md §Round-15 for the 50M-row stress where the
buffered-percentile alternative OOMs):

- ``group_mad`` — exact median absolute deviation of per-document
  token counts per source: the robust dispersion number next to
  stats_moments' stddev, which one 10M-token document cannot drag.
  Two selection phases (median, then median of |v − med|), the second
  over a broadcast-joined deviation column.
- ``winsorized_mean`` — the outlier-honest mean of price cents per
  return flag: exact q05/q95 by rank selection, then ONE conditional
  aggregate clamping values into the bracket. Complements the
  drop-based ``trimmed_mean`` gate (winsorizing keeps n constant —
  the estimator a heavy-tailed revenue column wants).
- ``iqr_outlier_report`` — Tukey-fence audit per source: exact
  p25/p75, fences at 1.5·IQR entirely in integers (2v vs 2·p25−3·IQR
  — no float fences, so engines agree bit-for-bit), one count pass of
  rows outside each fence — the per-source anomaly count a quality
  review reads next to key_skew_profile.

Medians are type-1 (lower) throughout — exact input values, engine-
exact for integer domains, matching the quantiles_by_group semantics.

Reference parity: the reference (truemark/database-collector) has no
analytics engine of its own — this tier is the beyond-reference
LLM-pipeline surface the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_collector_spark.operators.ranking import rank_select_by_group
from database_collector_spark.workloads import _t
from database_collector_spark.workloads_r18 import _doc_tokens


# -------------------------------------------------------------- group_mad


def q_group_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MAD of per-document token counts per source: phase 1
    selects each source's lower median; phase 2 broadcast-joins the
    <= |sources|-row median table back and selects the lower median of
    |v − med|. Both phases are the two-scan cell refinement — four
    scans total, zero corpus shuffles, all-integer."""
    toks = _doc_tokens(spark, sf_dir)
    med = rank_select_by_group(
        toks, "source", "n_tok", {"med_tokens": "(n + 1) div 2"}
    ).select("source", "med_tokens")
    dev = toks.join(F.broadcast(med), "source").select(
        "source",
        "med_tokens",
        F.abs(F.col("n_tok") - F.col("med_tokens")).alias("dev"),
    )
    mad = rank_select_by_group(
        dev, "source", "dev", {"mad_tokens": "(n + 1) div 2"}
    )
    return (
        mad.join(F.broadcast(med), "source")
        .select("source", "n", "med_tokens", "mad_tokens")
        .orderBy("source")
    )


SQL_GROUP_MAD = """
WITH counted AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS v
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
ranked AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM counted
),
med AS (
  SELECT source, CAST(MAX(n) AS BIGINT) AS n,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med_tokens
  FROM ranked GROUP BY source
),
dev AS (
  SELECT c.source, abs(c.v - m.med_tokens) AS d
  FROM counted c JOIN med m USING (source)
),
ranked2 AS (
  SELECT source, d,
         row_number() OVER (PARTITION BY source ORDER BY d) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM dev
)
SELECT m.source, m.n, m.med_tokens,
       MAX(CASE WHEN r.rn = (r.n + 1) // 2 THEN r.d END) AS mad_tokens
FROM ranked2 r JOIN med m USING (source)
GROUP BY m.source, m.n, m.med_tokens ORDER BY m.source
"""


# -------------------------------------------------------- winsorized_mean


def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of price cents per return flag: exact type-1
    q05/q95 by rank selection (ranks ceil(0.05·n)/ceil(0.95·n)), then
    one conditional aggregate clamping into [q05, q95]. The clamped
    sum is an exact integer (n bounded, cents bounded), so the single
    final division is engine-identical; n stays the full group count —
    the winsorizing-vs-trimming distinction."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    vals = li.select("l_returnflag", cents.alias("cents"))
    br = rank_select_by_group(
        vals,
        "l_returnflag",
        "cents",
        {"q05": "(5 * n + 99) div 100", "q95": "(95 * n + 99) div 100"},
    ).select("l_returnflag", "q05", "q95")
    clamped = vals.join(F.broadcast(br), "l_returnflag").select(
        "l_returnflag",
        "q05",
        "q95",
        F.greatest(F.col("q05"), F.least(F.col("q95"), F.col("cents"))).alias(
            "w"
        ),
    )
    return (
        clamped.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("q05").alias("q05_cents"),
            F.max("q95").alias("q95_cents"),
            # cast the ADDENDS, not the result: a long-typed sum could
            # wrap silently past 2^63 while DuckDB's HUGEINT stays
            # exact (the q_trimmed_mean precedent; review)
            F.sum(F.col("w").cast("decimal(38,0)")).alias("wsum"),
        )
        .select(
            "l_returnflag",
            "n",
            "q05_cents",
            "q95_cents",
            F.round(
                F.col("wsum").cast("double") / F.col("n").cast("double"), 6
            ).alias("winsorized_mean_cents"),
        )
        .orderBy("l_returnflag")
    )


SQL_WINSORIZED_MEAN = """
WITH counted AS (
  SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
),
ranked AS (
  SELECT l_returnflag, v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM counted
),
br AS (
  SELECT l_returnflag,
         MAX(CASE WHEN rn = (5 * n + 99) // 100 THEN v END) AS q05,
         MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS q95
  FROM ranked GROUP BY l_returnflag
)
SELECT c.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       MAX(b.q05) AS q05_cents, MAX(b.q95) AS q95_cents,
       round(CAST(SUM(GREATEST(b.q05, LEAST(b.q95, c.v)))
                  AS DOUBLE) / COUNT(*), 6) AS winsorized_mean_cents
FROM counted c JOIN br b USING (l_returnflag)
GROUP BY c.l_returnflag ORDER BY c.l_returnflag
"""


# ----------------------------------------------------- iqr_outlier_report


def q_iqr_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit of token counts per source: exact
    p25/p75 by rank selection, fences at 1.5·IQR kept ENTIRELY in
    integers — a row is a low outlier iff 2·v < 2·p25 − 3·IQR and a
    high outlier iff 2·v > 2·p75 + 3·IQR (doubling clears the .5
    without floats, so both engines compare identical integers) — then
    one conditional count pass over the broadcast-joined corpus."""
    toks = _doc_tokens(spark, sf_dir)
    q = rank_select_by_group(
        toks,
        "source",
        "n_tok",
        {"p25": "(n + 3) div 4", "p75": "(3 * n + 3) div 4"},
    ).select("source", "p25", "p75")
    j = toks.join(F.broadcast(q), "source")
    iqr = F.col("p75") - F.col("p25")
    low = 2 * F.col("n_tok") < 2 * F.col("p25") - 3 * iqr
    high = 2 * F.col("n_tok") > 2 * F.col("p75") + 3 * iqr
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("p25").alias("p25"),
            F.max("p75").alias("p75"),
            F.sum(low.cast("long")).cast("long").alias("n_low_outliers"),
            F.sum(high.cast("long")).cast("long").alias("n_high_outliers"),
        )
        .orderBy("source")
    )


SQL_IQR_OUTLIER_REPORT = """
WITH counted AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS v
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
ranked AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM counted
),
q AS (
  SELECT source,
         MAX(CASE WHEN rn = (n + 3) // 4 THEN v END) AS p25,
         MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS p75
  FROM ranked GROUP BY source
)
SELECT c.source, CAST(COUNT(*) AS BIGINT) AS n,
       MAX(q.p25) AS p25, MAX(q.p75) AS p75,
       CAST(SUM(CASE WHEN 2 * c.v < 2 * q.p25 - 3 * (q.p75 - q.p25)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
       CAST(SUM(CASE WHEN 2 * c.v > 2 * q.p75 + 3 * (q.p75 - q.p25)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
FROM counted c JOIN q USING (source)
GROUP BY c.source ORDER BY c.source
"""


QUERIES = {
    "group_mad": q_group_mad,
    "winsorized_mean": q_winsorized_mean,
    "iqr_outlier_report": q_iqr_outlier_report,
}

ORACLES = {
    "group_mad": SQL_GROUP_MAD,
    "winsorized_mean": SQL_WINSORIZED_MEAN,
    "iqr_outlier_report": SQL_IQR_OUTLIER_REPORT,
}
