"""Round-17 gates, permanently staged (``gates.STAGED``,
COVERAGE.md §staged-tier): oracle-paired and run against their DuckDB
twins by ``tests/test_gates.py`` and ``tools/check.py --staged``, but
never registered with the driver.

Cohort — the DATA-QUALITY EXPECTATIONS tier (operators/expectations.py:
the Deequ/Great-Expectations surface a 100 TB lake gates its inputs on
before any pipeline runs).

- ``table_profile`` — per-column null/cardinality profile of orders in
  ONE aggregate pass (expectations.column_profile).
- ``fk_orphan_report`` — the RICH referential-integrity report for two
  fact→dim relationships (expectations.referential_integrity): orphan
  ROWS and KEYS plus the keyed/unkeyed split and orphan_frac, counted
  on distinct-key compressions, never on the fact table (the
  registered ``fk_integrity`` gate reports bare orphan counts; this is
  the operator-backed report a data-quality dashboard consumes — the
  same every-13th-parent-key damage keeps the orphan numbers nonzero
  and exactly computable).
- ``key_uniqueness`` — candidate-key audit over documents
  (expectations.key_uniqueness): id key, content-identity key
  (md5(text) — the exact-dedup group key; non-unique at sf0.1, where
  the fixture ships exact duplicates), and the (lang, source) non-key
  as a negative control.

Reference parity: the reference (truemark/database-collector) has no
analytics engine of its own — this tier is the beyond-reference
LLM-pipeline surface the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_collector_spark.operators import expectations
from database_collector_spark.workloads import _t

# --------------------------------------------------------- table_profile

_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of orders (expectations.column_profile): one
    aggregate pass computing every column's row/null/exact-distinct
    counts together (multi-distinct via Spark's Expand — one shuffle),
    unpivoted in-row; null_frac is one division over exact integers."""
    return expectations.column_profile(
        _t(spark, sf_dir, "orders"), _PROFILE_COLS
    ).orderBy("col_name")


def _profile_oracle() -> str:
    nn = ",\n         ".join(
        f"COUNT({c})::BIGINT AS nn_{i}, COUNT(DISTINCT {c})::BIGINT AS nd_{i}"
        for i, c in enumerate(_PROFILE_COLS)
    )
    arms = "\n  UNION ALL\n".join(
        f"  SELECT '{c}' AS col_name, n_rows, n_rows - nn_{i} AS n_nulls, "
        f"nd_{i} AS n_distinct FROM s"
        for i, c in enumerate(_PROFILE_COLS)
    )
    return f"""
WITH s AS (
  SELECT COUNT(*)::BIGINT AS n_rows,
         {nn}
  FROM orders
)
SELECT col_name, n_rows, CAST(n_nulls AS BIGINT) AS n_nulls,
       CASE WHEN n_rows > 0
            THEN round(CAST(n_nulls AS DOUBLE) / n_rows, 6) END AS null_frac,
       n_distinct
FROM (
{arms}
)
ORDER BY col_name
"""


SQL_TABLE_PROFILE = _profile_oracle()


# ------------------------------------------------------ fk_orphan_report


def q_fk_orphan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich referential-integrity report for the two core fact→dim
    edges (expectations.referential_integrity): lineitem.l_orderkey →
    orders.o_orderkey and orders.o_custkey → customer.c_custkey. Each
    relationship's orphan counts come from an anti join of DISTINCT-key
    compressions — the fact table itself is scanned once and never
    joined. Clean fixture data has zero orphans (trivially hashable),
    so the parent sides deterministically DROP every 13th key first —
    the registered fk_integrity gate's damage recipe — making every
    report column nonzero and exactly computable."""
    orders = _t(spark, sf_dir, "orders")
    li = expectations.referential_integrity(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey",
        orders.filter(F.col("o_orderkey") % 13 != 0),
        "o_orderkey",
        relationship="lineitem.l_orderkey->orders.o_orderkey",
    )
    oc = expectations.referential_integrity(
        orders,
        "o_custkey",
        _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 13 != 0),
        "c_custkey",
        relationship="orders.o_custkey->customer.c_custkey",
    )
    return li.unionByName(oc).orderBy("relationship")


def _fk_arm(rel: str, child: str, ckey: str, parent: str, pkey: str) -> str:
    return f"""
  SELECT '{rel}' AS relationship,
         t.n_child_rows, t.n_child_keyed,
         o.n_orphan_rows, o.n_orphan_keys,
         CASE WHEN t.n_child_keyed > 0
              THEN round(CAST(o.n_orphan_rows AS DOUBLE) / t.n_child_keyed, 6)
         END AS orphan_frac
  FROM (
    SELECT COUNT(*)::BIGINT AS n_child_rows,
           COUNT({ckey})::BIGINT AS n_child_keyed
    FROM {child}
  ) t CROSS JOIN (
    SELECT COALESCE(SUM(n), 0)::BIGINT AS n_orphan_rows,
           COUNT(*)::BIGINT AS n_orphan_keys
    FROM (
      SELECT ck.k, ck.n
      FROM (SELECT {ckey} AS k, COUNT(*)::BIGINT AS n FROM {child}
            WHERE {ckey} IS NOT NULL GROUP BY 1) ck
      ANTI JOIN (SELECT DISTINCT {pkey} AS k FROM {parent}
                 WHERE {pkey} IS NOT NULL AND {pkey} % 13 <> 0) pk USING (k)
    )
  ) o
"""


SQL_FK_ORPHAN_REPORT = (
    "SELECT * FROM (\n"
    + _fk_arm(
        "lineitem.l_orderkey->orders.o_orderkey",
        "lineitem",
        "l_orderkey",
        "orders",
        "o_orderkey",
    )
    + "  UNION ALL\n"
    + _fk_arm(
        "orders.o_custkey->customer.c_custkey",
        "orders",
        "o_custkey",
        "customer",
        "c_custkey",
    )
    + ") ORDER BY relationship"
)


# -------------------------------------------------------- key_uniqueness


def q_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key audit over documents (expectations.key_uniqueness):
    doc_id (the id contract), md5(text) (content identity — the
    exact-dedup group key, non-unique wherever the corpus has exact
    duplicates), and (lang, source) as the deliberate non-key negative
    control. One count-per-key pass per key set."""
    return expectations.key_uniqueness(
        _t(spark, sf_dir, "documents"),
        {
            "doc_id": ["doc_id"],
            "content_md5": [F.md5(F.col("text"))],
            "lang_source": ["lang", "source"],
        },
    ).orderBy("key_name")


def _uniq_arm(name: str, keys: str) -> str:
    return f"""
  SELECT '{name}' AS key_name,
         COALESCE(SUM(n), 0)::BIGINT AS n_rows,
         COUNT(*)::BIGINT AS n_keys,
         COALESCE(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0)::BIGINT AS n_dup_keys,
         COALESCE(SUM(CASE WHEN n > 1 THEN n ELSE 0 END), 0)::BIGINT AS n_dup_rows,
         COALESCE(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0) = 0 AS is_unique
  FROM (SELECT COUNT(*)::BIGINT AS n FROM documents GROUP BY {keys})
"""


SQL_KEY_UNIQUENESS = (
    "SELECT * FROM (\n"
    + _uniq_arm("doc_id", "doc_id")
    + "  UNION ALL\n"
    + _uniq_arm("content_md5", "md5(text)")
    + "  UNION ALL\n"
    + _uniq_arm("lang_source", "lang, source")
    + ") ORDER BY key_name"
)


QUERIES = {
    "table_profile": q_table_profile,
    "fk_orphan_report": q_fk_orphan_report,
    "key_uniqueness": q_key_uniqueness,
}

ORACLES = {
    "table_profile": SQL_TABLE_PROFILE,
    "fk_orphan_report": SQL_FK_ORPHAN_REPORT,
    "key_uniqueness": SQL_KEY_UNIQUENESS,
}
