"""Round-18 gates — the exact order-statistics tier at scale —
permanently staged (``gates.STAGED``, COVERAGE.md §staged-tier):
oracle-paired and run against their DuckDB twins by
``tests/test_gates.py`` and ``tools/check.py --staged``, but never
registered with the driver.

All three gates are first-class consumers of
``ranking.rank_select_by_group`` (r15): exact order statistics at a
FIXED set of target ranks via the two-scan cell refinement — no corpus
shuffle, state bounded by one log-cell's value population — where the
per-group-window designs (q_weighted_median's compressed-domain window,
Spark's buffered ``percentile``) funnel a ~all-distinct value domain
through one task per group:

- ``rank_quartiles`` — per-source exact type-1 quartiles of document
  token counts (k_m = ceil(m·n/4), the quantiles_by_group semantics).
- ``range_splitters`` — per-returnflag 8-way equi-depth split points
  of price cents (k_i = ceil(i·n/8), i = 1..7): the range-partitioner
  planning primitive — THE numbers a 100 TB distributed sort or
  bucketed layout job computes before shuffling anything.
- ``token_mass_median`` — per-source token-MASS median document
  length (value = n_tokens weighted by n_tokens): the doc size at
  which half the corpus' token budget sits in shorter documents — the
  packing/curriculum planning twin of the row-median, and the weighted
  mode's gate.

Reference parity: the reference (truemark/database-collector) has no
analytics engine of its own — this tier is the beyond-reference
LLM-pipeline surface the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_collector_spark.operators import text
from database_collector_spark.operators.ranking import rank_select_by_group
from database_collector_spark.workloads import _t


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tok) over text-bearing docs — the shared projection
    (whitespace token count, the repo-wide nonempty-token definition)."""
    return (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select(
            "source",
            F.size(text.nonempty_tokens_col("text")).cast("long").alias("n_tok"),
        )
    )


# ---------------------------------------------------------- rank_quartiles


def q_rank_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 quartiles of per-document token counts per source
    via the two-scan cell refinement (rank_select_by_group): ranks
    k_m = ceil(m·n/4) = (m·n + 3) div 4 — the quantiles_by_group
    semantics without its compressed-domain corpus shuffle. All-integer
    values, so the hash pins the selection itself."""
    return rank_select_by_group(
        _doc_tokens(spark, sf_dir),
        "source",
        "n_tok",
        {
            "p25": "(n + 3) div 4",
            "p50": "(2 * n + 3) div 4",
            "p75": "(3 * n + 3) div 4",
        },
    ).orderBy("source")


SQL_RANK_QUARTILES = """
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
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n,
       MAX(CASE WHEN rn = (n + 3) // 4 THEN v END) AS p25,
       MAX(CASE WHEN rn = (2 * n + 3) // 4 THEN v END) AS p50,
       MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS p75
FROM ranked GROUP BY source ORDER BY source
"""


# --------------------------------------------------------- range_splitters

_N_RANGES = 8


def q_range_splitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range-partition split points: the 7 exact boundary
    values cutting each return flag's price-cents distribution into 8
    equal-count ranges (k_i = ceil(i·n/8)) — what a distributed sort /
    range-bucketed layout job plans its partitioner from. Computed with
    the two-scan cell refinement: the corpus is never shuffled, so the
    PLANNING step costs two scans even when the table is the 100 TB
    fact itself."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag").isNotNull())
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return rank_select_by_group(
        li.select("l_returnflag", cents.alias("cents")),
        "l_returnflag",
        "cents",
        {
            f"s{i}": f"({i} * n + {_N_RANGES - 1}) div {_N_RANGES}"
            for i in range(1, _N_RANGES)
        },
    ).orderBy("l_returnflag")


SQL_RANGE_SPLITTERS = f"""
WITH counted AS (
  -- the price filter mirrors the operator's NULL-value exclusion: a
  -- NULL price would count into n (NULLS LAST under row_number) and
  -- shift every splitter rank only on the oracle side (review)
  SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
),
ranked AS (
  SELECT l_returnflag, v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM counted
)
SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
       {", ".join(
           f"MAX(CASE WHEN rn = ({i} * n + {_N_RANGES - 1}) // {_N_RANGES} "
           f"THEN v END) AS s{i}"
           for i in range(1, _N_RANGES)
       )}
FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ------------------------------------------------------- token_mass_median


def q_token_mass_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-MASS median document length per source: the n_tok value v*
    such that half the source's TOKENS live in documents of <= v*
    tokens (value = n_tok, weight = n_tok, k = (W + 1) div 2 over total
    token mass W) — the number a packing/curriculum plan reads next to
    the row median, which a few long documents cannot dominate the same
    way. Weighted mode of rank_select_by_group: weight sums replace
    counts in both scans, weights in-plan-guarded non-negative
    integers. Zero-token docs carry zero mass and can never be
    selected (and the row median of such a corpus would happily be 0)."""
    return rank_select_by_group(
        _doc_tokens(spark, sf_dir),
        "source",
        "n_tok",
        {"wmed_tokens": "(n + 1) div 2"},
        weight_col="n_tok",
    ).select(
        "source", F.col("n").alias("total_tokens"), "wmed_tokens"
    ).orderBy("source")


SQL_TOKEN_MASS_MEDIAN = """
WITH counted AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS v
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
perv AS (
  -- weight sum per distinct value: w = v * count(v); SUM promotes to
  -- HUGEINT in DuckDB -> pin BIGINT (Arrow-portability class)
  SELECT source, v, CAST(SUM(v) AS BIGINT) AS w
  FROM counted GROUP BY source, v
),
ranked AS (
  SELECT source, v, w,
         CAST(SUM(w) OVER (PARTITION BY source ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
         CAST(SUM(w) OVER (PARTITION BY source) AS BIGINT) AS tw
  FROM perv
)
SELECT source, CAST(MAX(tw) AS BIGINT) AS total_tokens,
       -- tw > 0 mirrors the operator's rank domain [1, n]: a source of
       -- only zero-token docs has k = 0, out of range, NULL on BOTH
       -- engines (review: the bare cw >= 0 form picked the zero-weight
       -- v = 0 row and diverged from Spark's NULL)
       MIN(CASE WHEN tw > 0 AND cw >= (tw + 1) // 2 THEN v END)
         AS wmed_tokens
FROM ranked GROUP BY source ORDER BY source
"""


QUERIES = {
    "rank_quartiles": q_rank_quartiles,
    "range_splitters": q_range_splitters,
    "token_mass_median": q_token_mass_median,
}

ORACLES = {
    "rank_quartiles": SQL_RANK_QUARTILES,
    "range_splitters": SQL_RANGE_SPLITTERS,
    "token_mass_median": SQL_TOKEN_MASS_MEDIAN,
}
